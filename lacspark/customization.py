"""Customization-dictionary intervention (user dict overrides).

Transcribes the observable semantics of the reference's intervention
mechanism (/root/reference/python/LAC/custom.py:34-135): a phrase
dictionary ``phrase → (per-word tags, cumulative char offsets)`` plus
an Aho–Corasick matcher over phrases (``matcher.AhoCorasick``, with
the reference TriedTree's keep rule); matched spans rewrite the
char-level tag sequence *after* CRF decode and *before* B/I merge
(order fixed at models.py:160-161): interior chars get ``-I`` (with
the dict tag if given, else keeping the model's tag base), the span
start and each sub-word boundary get ``-B``.
"""

from __future__ import annotations

from .matcher import AhoCorasick


class Customization:
    def __init__(self):
        self.matcher = AhoCorasick()
        self.items: dict[str, tuple[list[str], list[int]]] = {}

    def add_entry(self, line: str, sep: str | None = None) -> None:
        """One dict entry: ``word[/TAG]`` pieces joined by ``sep``
        (whitespace if None) — custom.py:44-74 add_word semantics,
        including the single-untagged-char skip."""
        words = line.strip().split(sep)
        if not words:
            return
        phrase = ""
        tags: list[str] = []
        offsets: list[int] = []
        for word in words:
            cut = word.rfind("/")
            if cut < 1:  # no tag, or leading slash — whole piece, no tag
                phrase += word
                tags.append("")
            else:
                phrase += word[:cut]
                tags.append(word[cut + 1:])
            offsets.append(len(phrase))
        if len(phrase) < 2 and tags[0] == "":
            return
        self.items[phrase] = (tags, offsets)
        self.matcher.add(phrase)

    def load(self, path: str, sep: str | None = None) -> None:
        with open(path, "r", encoding="utf8") as f:
            for line in f:
                if line.strip():
                    self.add_entry(line, sep)

    def apply(self, query: str, tags: list[str]) -> None:
        """Rewrite char-level ``tags`` in place for spans matched in
        ``query`` (custom.py:109-135 rewrite rules)."""
        for begin, end in self.matcher.search(query):
            item_tags, offsets = self.items[query[begin:end]]
            pos = begin
            for tag, offset in zip(item_tags, offsets):
                while pos < begin + offset:
                    if tag:
                        tags[pos] = tag + "-I"
                    else:
                        tags[pos] = tags[pos][:-1] + "I"
                    pos += 1
            tags[begin] = tags[begin][:-1] + "B"
            for offset in offsets:
                pos = begin + offset
                if pos < len(tags):
                    tags[pos] = tags[pos][:-1] + "B"
