"""Multi-pattern string matchers for customization intervention.

Two implementations with identical ``search`` semantics on the paths
the engine uses:

* ``PrefixDict`` — transcribes the reference's python matcher
  semantics (/root/reference/python/LAC/prefix_tree.py:19-80): a flat
  dict keyed by every prefix of every pattern (prefixes → None,
  full patterns → their length), ``search`` = greedy forward scan
  keeping a match iff its end extends past the previous kept match.
  This is the semantics the pytest gate locks in (the reference's
  Customization uses this class, custom.py:28).

* ``AhoCorasick`` — BFS fail-pointer automaton for large dicts where
  the O(n·L) prefix scan would dominate (the reference's C++ engine
  uses AC, c++/src/ahocorasick.cpp:57-139).  ``search`` reproduces the
  same keep-iff-extends rule over the same candidate set, so for any
  dict both matchers return identical spans on ``search``.

Both are plain dicts/lists.  Each Spark python worker builds its own
from the custom-dict lines its task's closure carries
(``spark.tagger._worker_engine``); nothing is broadcast.
``PrefixDict`` is also the segmenter's prefix table
(``segmenter.DagSegmenter``), as the reference's TriedTree is.
"""

from __future__ import annotations

from collections import deque


class PrefixDict:
    """Greedy forward-max-match over a prefix dictionary."""

    def __init__(self):
        self.table: dict[str, int | None] = {}

    def add(self, pattern: str) -> None:
        self.table[pattern] = len(pattern)
        for i in range(1, len(pattern)):
            self.table.setdefault(pattern[:i], None)

    def finalize(self) -> None:  # parity with AhoCorasick API
        pass

    def search(self, text: str) -> list[tuple[int, int]]:
        """Greedy matches [(begin, end)); keep iff end > last kept end."""
        hits: list[tuple[int, int]] = []
        n = len(text)
        for start in range(n):
            for end in range(start + 1, n + 1):
                val = self.table.get(text[start:end], -1)
                if val == -1:
                    break  # not even a prefix — no longer match possible
                if val and (not hits or end > hits[-1][1]):
                    hits.append((start, end))
        return hits

    def search_all(self, text: str) -> list[tuple[int, int]]:
        hits = []
        n = len(text)
        for start in range(n):
            for end in range(start + 1, n + 1):
                val = self.table.get(text[start:end], -1)
                if val == -1:
                    break
                if val:
                    hits.append((start, end))
        return hits


class AhoCorasick:
    """Classic AC automaton; scan is O(n + matches) independent of
    pattern count, the scale path for large customization dicts."""

    def __init__(self):
        self._goto: list[dict[str, int]] = [{}]
        self._fail: list[int] = [0]
        self._out: list[list[int]] = [[]]  # pattern lengths ending here
        self._built = False

    def add(self, pattern: str) -> None:
        node = 0
        for ch in pattern:
            nxt = self._goto[node].get(ch)
            if nxt is None:
                nxt = len(self._goto)
                self._goto.append({})
                self._fail.append(0)
                self._out.append([])
                self._goto[node][ch] = nxt
            node = nxt
        if len(pattern) and len(pattern) not in self._out[node]:
            self._out[node].append(len(pattern))
        self._built = False

    def finalize(self) -> None:
        q: deque[int] = deque()
        for child in self._goto[0].values():
            self._fail[child] = 0
            q.append(child)
        while q:
            node = q.popleft()
            for ch, child in self._goto[node].items():
                f = self._fail[node]
                while f and ch not in self._goto[f]:
                    f = self._fail[f]
                self._fail[child] = self._goto[f].get(ch, 0)
                if self._fail[child] == child:
                    self._fail[child] = 0
                # inherit outputs through the fail link
                for ln in self._out[self._fail[child]]:
                    if ln not in self._out[child]:
                        self._out[child].append(ln)
                q.append(child)
        self._built = True

    def _candidates(self, text: str):
        """All matches as (begin, end), in increasing (end, length)."""
        if not self._built:
            self.finalize()
        node = 0
        for i, ch in enumerate(text):
            while node and ch not in self._goto[node]:
                node = self._fail[node]
            node = self._goto[node].get(ch, 0)
            for ln in sorted(self._out[node], reverse=True):
                yield i + 1 - ln, i + 1

    def search_all(self, text: str) -> list[tuple[int, int]]:
        return sorted(set(self._candidates(text)))

    def search(self, text: str) -> list[tuple[int, int]]:
        """Same keep-rule as PrefixDict.search: scanning candidates in
        (begin, end) order, keep iff end extends the last kept end."""
        hits: list[tuple[int, int]] = []
        for begin, end in self.search_all(text):
            if not hits or end > hits[-1][1]:
                hits.append((begin, end))
        return hits
