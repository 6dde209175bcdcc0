"""Coarse DAG segmenter (the reference's ``fast_cut``).

Transcribes the semantics of /root/reference/python/LAC/segment.py:
32-118 — a unigram Viterbi over a prefix-dict DAG, scored by
``log(trie_value or 1) - log(total_count)`` where the trie value for a
full dictionary word is its *length* (prefix_tree.py:31 stores
``len(word)``), ties broken toward the larger end index (python
``max`` over ``(score, end)`` tuples) — plus the ASCII-run buffering:
consecutive single-char ``[a-zA-Z0-9]`` picks are merged into one
token (segment.py:102-117, the behavior that keeps English
identifiers/numbers whole).  Used in lac/rank modes only, to shorten
sequences before the tagger (mixed word/char granularity,
Changelog:2).
"""

from __future__ import annotations

import re
from math import log

from .matcher import PrefixDict

_ASCII_RUN = re.compile(r"[a-zA-Z0-9]")


class DagSegmenter:
    def __init__(self, freq_words: dict[str, int]):
        """freq_words: word → count (``small_seg.dic`` contents)."""
        # the reference TriedTree's prefix table: value = word
        # length (not count), prefixes → None; count feeds only the
        # normalizer — segment.py:36-45 + prefix_tree.py:29-34
        prefixes = PrefixDict()
        for word in freq_words:
            prefixes.add(word)
        self.table = prefixes.table
        self.log_total = log(max(sum(map(int, freq_words.values())), 1))

    def cut(self, text: str) -> list[str]:
        n = len(text)
        if n == 0:
            return []
        # right-to-left DP; route[i] = (best log-score, best end index)
        # hand-rolled argmax (ties → larger end, matching python max
        # over (score, end) tuples); single-char steps skip the dict
        # log entirely (log(1) == 0)
        table = self.table
        log_total = self.log_total
        score = [0.0] * (n + 1)
        choice = [0] * (n + 1)
        for i in range(n - 1, -1, -1):
            best = score[i + 1] - log_total  # single-char step, e = i
            best_e = i
            stop = i + 2
            word = text[i:stop]
            while stop <= n and word in table:
                v = table[word]
                if v:
                    s = log(v) - log_total + score[stop]
                    if s >= best:  # tie → larger end wins
                        best, best_e = s, stop - 1
                stop += 1
                word = text[i:stop]
            score[i] = best
            choice[i] = best_e
        out: list[str] = []
        buf = []
        i = 0
        while i < n:
            end = choice[i] + 1
            piece = text[i:end]
            if len(piece) == 1 and _ASCII_RUN.match(piece):
                buf.append(piece)
            else:
                if buf:
                    out.append("".join(buf))
                    buf = []
                out.append(piece)
            i = end
        if buf:
            out.append("".join(buf))
        return out
