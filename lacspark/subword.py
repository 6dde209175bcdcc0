"""Deterministic subword tokenization for token-budget accounting.

``token_class_counts`` approximates token counts with regex classes;
sequence-packing budgets should survive contact with a REAL subword
vocabulary.  This module provides:

* :func:`train_bpe` — a fully deterministic byte-pair-merge trainer
  (ties broken by count desc, then lexicographic pair), run ONCE to
  produce the committed vocab fixture ``resources/subword.vocab``
  (``python -m lacspark.subword`` regenerates it; 40 merges keep
  a realistic mix on the synthetic corpus — ~18 of its 31 words
  split into multiple pieces, 13 merge whole);
* :class:`SubwordTokenizer` — greedy longest-match segmentation
  against that vocab (WordPiece-style inference): at each position
  take the longest vocab piece, falling back to the single character
  (counted as unk when the character itself is out-of-vocab).

The LAC reference has no subword layer (its granularity is the
word/tag level — reference python/LAC/reader.py tokenizes to words);
this is the token-budget extension a pretraining pipeline needs on
top.  Everything is pure python with zero dependencies so the same
code runs in the golden-oracle generator and inside Spark workers
(Arrow-batched, one tokenizer singleton per worker).
"""

from __future__ import annotations

import os
from collections import Counter
from collections.abc import Iterable

from . import resource_dir
from .canonical_py import tokens


def vocab_path() -> str:
    """The committed vocab fixture, wherever the package was loaded
    from (a ``--py-files`` zip included)."""
    return os.path.join(str(resource_dir()), "subword.vocab")


def train_bpe(texts: Iterable[str], n_merges: int = 200) -> list[str]:
    """Byte-pair merges over whitespace words, fully deterministic:
    each round merges the most frequent adjacent symbol pair, ties
    broken lexicographically.  Returns single chars + merged pieces,
    sorted (the vocab SET is what inference uses; order carries no
    meaning for greedy longest-match)."""
    words: Counter[tuple[str, ...]] = Counter()
    chars: set[str] = set()
    for t in texts:
        for w in tokens(t):
            words[tuple(w)] += 1
            chars.update(w)
    merged: set[str] = set()
    for _ in range(n_merges):
        pairs: Counter[tuple[str, str]] = Counter()
        for sym, c in words.items():
            for a, b in zip(sym, sym[1:]):
                pairs[(a, b)] += c
        if not pairs:
            break
        best = min(pairs, key=lambda p: (-pairs[p], p))
        if pairs[best] < 2:
            break
        merged.add(best[0] + best[1])
        out: Counter[tuple[str, ...]] = Counter()
        for sym, c in words.items():
            new, i = [], 0
            while i < len(sym):
                if i + 1 < len(sym) and (sym[i], sym[i + 1]) == best:
                    new.append(sym[i] + sym[i + 1])
                    i += 2
                else:
                    new.append(sym[i])
                    i += 1
            out[tuple(new)] += c
        words = out
    return sorted(chars | merged)


class SubwordTokenizer:
    """Greedy longest-match segmentation against a fixed vocab."""

    def __init__(self, vocab: Iterable[str]):
        self.vocab = frozenset(vocab)
        self.max_len = max((len(v) for v in self.vocab), default=1)

    def tokenize_word(self, word: str) -> list[str]:
        pieces, i, n = [], 0, len(word)
        while i < n:
            for ln in range(min(self.max_len, n - i), 0, -1):
                if word[i:i + ln] in self.vocab:
                    pieces.append(word[i:i + ln])
                    i += ln
                    break
            else:
                pieces.append(word[i])  # out-of-vocab single char
                i += 1
        return pieces

    def tokenize(self, text: str) -> list[str]:
        out: list[str] = []
        for w in tokens(text):
            out.extend(self.tokenize_word(w))
        return out

    def counts(self, text: str) -> tuple[int, int]:
        """(n_subwords, n_unk) for one document — the budget pair the
        token_count_bpe query emits."""
        n_sub = n_unk = 0
        for w in tokens(text):
            for p in self.tokenize_word(w):
                n_sub += 1
                if p not in self.vocab:
                    n_unk += 1
        return n_sub, n_unk


_DEFAULT: SubwordTokenizer | None = None


def default_tokenizer() -> SubwordTokenizer:
    """Fixture-vocab tokenizer, one instance per process (Spark
    workers hold it across Arrow batches)."""
    global _DEFAULT
    if _DEFAULT is None:
        with open(vocab_path(), encoding="utf-8") as fh:
            _DEFAULT = SubwordTokenizer(
                line.rstrip("\n") for line in fh if line.rstrip("\n"))
    return _DEFAULT


def main() -> None:
    """Regenerate the vocab fixture from the sf0.001 corpus (the
    committed training snapshot — regen changes goldens repo-wide,
    same policy as gen_fixtures)."""
    import duckdb

    texts = [r[0] for r in duckdb.connect().execute(
        "select text from '/root/testdata/sf0.001/documents.parquet' "
        "order by doc_id").fetchall()]
    vocab = train_bpe(texts, n_merges=40)
    # a piece containing a newline would split across fixture lines;
    # drop such pieces (the chars still tokenize via the single-char
    # fallback, deterministically)
    vocab = [v for v in vocab if "\n" not in v and "\r" not in v]
    with open(vocab_path(), "w", encoding="utf-8") as fh:
        fh.write("\n".join(vocab) + "\n")
    print(f"wrote {len(vocab)} pieces to {vocab_path()}")


if __name__ == "__main__":
    main()
