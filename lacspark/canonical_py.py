"""K6/K7 canonicalization in pure python: the algorithm's constants,
its union-find and its single-process twin of
``lacspark.spark.canonical``, with identical arithmetic and no Spark
import.  It also holds the python twins of ``spark.dedup``'s two SQL
text rules, ``md5int`` (``MD5INT``) and ``tokens`` (``TOKENS``).

``canonical_map_py`` has two consumers: the golden-parquet generator
(``lacspark.gen_golden``), which uses it as the independent oracle,
and ``spark.canonical.canonical_map``, which runs it on the driver
when the distinct-form set is broadcast-scale (one Spark job instead
of the banded chain).  The golden-gated kg_entity_linking /
kg_vertices / kg_edges queries and
test_canonical_fast_path_matches_distributed pin the two paths equal.
"""

from __future__ import annotations

import hashlib
from collections import defaultdict
from collections.abc import Callable, Iterable

NUM_HASHES = 8       # minhash functions per form
BAND_SIZE = 2        # signature entries per LSH band
JACCARD_MIN = 0.5    # char-3-gram Jaccard bound of a verified edge
MAX_BUCKET = 1000    # band buckets with more forms are dropped whole
CAP_OP = "canonical_candidate_pairs"  # cap_audit op and unit names
CAP_UNIT = "minhash band buckets"


def md5int(s: str) -> int:
    """≡ Spark ``conv(substring(md5(x),1,15),16,10)`` and DuckDB
    ``('0x'||substring(md5(x),1,15))::BIGINT``."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def tokens(text: str) -> list[str]:
    """≡ Spark ``filter(split(text, ' '), t -> length(t) > 0)``: split
    on single spaces, empty strings dropped."""
    return [t for t in text.split(" ") if t]


def _form(word: str) -> str:
    return word.strip(" ").lower()  # ≡ lower(trim(word)): trim is 0x20-only


def _grams(form: str) -> frozenset[str]:
    # ≡ transform(sequence(1, greatest(len-2,1)), i -> substring(form,i,
    #   least(3,len))) |> array_distinct
    ln = len(form)
    width = min(3, ln)
    return frozenset(form[i:i + width] for i in range(max(ln - 2, 1)))


def union_find(edges: Iterable[tuple[str, str]]) -> Callable[[str], str]:
    """Connected components of ``edges``: returns ``find``, which maps
    a label to its component's lexicographically smallest label (a
    label on no edge is its own component).  The smaller root wins
    every union, so the result does not depend on edge order."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return find


def canonical_map_py(words: list[str]
                     ) -> tuple[dict[str, tuple[str, int]], tuple[int, int]]:
    """(form → (canonical, entity_id) for every distinct form len>=2,
    (buckets over MAX_BUCKET, member rows they dropped)): the map and
    the cap counts the distributed ``candidate_pairs`` observes."""
    forms = sorted({f for f in (_form(w) for w in words) if len(f) >= 2})
    grams = {f: _grams(f) for f in forms}
    sigs = {
        f: [min(md5int(f"c{i}:{g}") for g in grams[f])
            for i in range(NUM_HASHES)]
        for f in forms}
    buckets: dict[str, list[str]] = defaultdict(list)
    for f in forms:
        for b in range(NUM_HASHES // BAND_SIZE):
            key = hashlib.md5(
                ",".join([str(b)] + [str(sigs[f][b * BAND_SIZE + j])
                                     for j in range(BAND_SIZE)])
                .encode()).hexdigest()
            buckets[key].append(f)
    pairs: set[tuple[str, str]] = set()
    n_units_capped = n_rows_dropped = 0
    for members in buckets.values():
        if len(members) > MAX_BUCKET:  # a degenerate band
            n_units_capped += 1
            n_rows_dropped += len(members)
            continue
        for i, a in enumerate(members):
            for b in members[i + 1:]:
                pairs.add((a, b) if a < b else (b, a))
    find = union_find(
        (a, b) for a, b in pairs
        if len(grams[a] & grams[b]) / len(grams[a] | grams[b])
        >= JACCARD_MIN)
    return ({f: (find(f), md5int(find(f))) for f in forms},
            (n_units_capped, n_rows_dropped))
