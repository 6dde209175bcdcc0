"""Multi-pattern string matching: the customization dictionary's
matcher and the segmenter's prefix table.

* ``AhoCorasick`` — the one custom-dictionary matcher: a BFS
  fail-pointer automaton, as in the reference's C++ engine
  (c++/src/ahocorasick.cpp:57-139).  ``search`` applies the reference
  python TriedTree's rule (python/LAC/prefix_tree.py:19-80): over all
  matches in (begin, end) order, keep a match iff its end extends past
  the last kept match.  The two reference matchers give the same
  spans; the automaton scans in O(n + matches) whatever the number of
  patterns.

* ``PrefixDict`` — the segmenter's prefix table
  (``segmenter.DagSegmenter``), as the reference's TriedTree is: a
  flat dict keyed by every prefix of every pattern (prefixes → None,
  full patterns → their length).

Both are plain dicts/lists.  Each Spark python worker builds its own
from the custom-dict lines its task's closure carries
(``spark.tagger._worker_engine``); nothing is broadcast.
"""

from __future__ import annotations

from collections import deque


class PrefixDict:
    """Every prefix of every pattern: prefixes → None, patterns →
    their length."""

    def __init__(self):
        self.table: dict[str, int | None] = {}

    def add(self, pattern: str) -> None:
        self.table[pattern] = len(pattern)
        for i in range(1, len(pattern)):
            self.table.setdefault(pattern[:i], None)


class AhoCorasick:
    """Classic AC automaton.  Its fail links are built at the first
    search after an ``add``."""

    def __init__(self):
        self._goto: list[dict[str, int]] = [{}]
        self._fail: list[int] = [0]
        self._out: list[list[int]] = [[]]  # pattern lengths ending here
        self._built = True

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

    def _build(self) -> None:
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

    def search_all(self, text: str) -> list[tuple[int, int]]:
        """Every match [(begin, end)), sorted."""
        if not self._built:
            self._build()
        goto, fail, out = self._goto, self._fail, self._out
        hits: list[tuple[int, int]] = []
        node = 0
        for end, ch in enumerate(text, 1):
            while node and ch not in goto[node]:
                node = fail[node]
            node = goto[node].get(ch, 0)
            if out[node]:
                hits.extend([(end - ln, end) for ln in out[node]])
        hits.sort()
        return hits

    def search(self, text: str) -> list[tuple[int, int]]:
        """TriedTree's greedy matches [(begin, end)): scanning every
        match in (begin, end) order, keep iff end extends the last
        kept end."""
        hits: list[tuple[int, int]] = []
        for begin, end in self.search_all(text):
            if not hits or end > hits[-1][1]:
                hits.append((begin, end))
        return hits
