"""Deduplication operators for training-data pipelines.

All hashing is md5-derived (cross-engine deterministic),
xxhash64-based (JVM-only fast path) or, for winnowing, a polynomial
hash of code points.  Five families:

* exact: one hash-groupBy — the cheapest pass, run first at scale;
* minhash/LSH: 3-token-shingle minhash → bands → one row per band
  bucket, candidate pairs expanded from it → exact-jaccard verify
  (sub-quadratic near-dup detection);
* simhash: per-document bit fingerprint; hamming-near docs share the
  fingerprint (or a band of it) — one python pass per document, no
  shuffle;
* winnowing: per-document digest of the window minima of rolling
  k-gram hashes — one numpy pass per document, no shuffle;
* n-gram jaccard: exact verification primitive for any candidate set.
"""

from __future__ import annotations

from contextlib import contextmanager
from contextvars import ContextVar
from typing import Iterator

import numpy as np
from py4j.protocol import Py4JJavaError
from pyspark import SparkContext
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from lacspark.canonical_py import md5int, tokens
from .memo import input_fingerprint, memo
from .session import python_pass

MD5INT = "cast(conv(substring(md5({x}), 1, 15), 16, 10) as bigint)"


# A document's tokens: split on single spaces, empty strings dropped
# (double, leading and trailing spaces), as a SQL template over the
# text expression ``x`` — the token rule of every text operator here
# and of its DuckDB oracle (``canonical_py.tokens`` is its python twin).
TOKENS = "filter(split({x}, ' '), t -> length(t) > 0)"


def ratio_round_sql(p: str, q: str, digits: int) -> str:
    """``cast(round(p/q, digits) as double)`` for NON-NEGATIVE
    integer SQL expressions p, q — computed with pure integer
    half-up arithmetic ((2*p*10^d + q) div (2*q)) so the result is
    identical in Spark, DuckDB, and python.  ``F.round`` on the
    double quotient rounds the shortest decimal repr (HALF_UP on a
    trailing 5) while DuckDB/python round the binary double; any
    ratio whose terminating decimal lands on a 6/4-digit midpoint
    that is not exactly representable (denominator with a factor 5,
    e.g. a 160-shingle union) silently diverges the engines."""
    m = 10 ** digits
    return (f"cast((2 * cast(({p}) as bigint) * {m} "
            f"+ cast(({q}) as bigint)) "
            f"div (2 * cast(({q}) as bigint)) as double) / {m}D")


def ratio_round(p: str, q: str, digits: int) -> Column:
    """:func:`ratio_round_sql` as a column."""
    return F.expr(ratio_round_sql(p, q, digits))


def shingle_sets(df: DataFrame, id_col: str, text_col: str,
                 n: int = 3) -> DataFrame:
    """(id, shset): DISTINCT n-token shingles per document as one
    array column.  Single tokens degenerate when the vocabulary is
    small (every doc looks like every other); shingles keep the
    feature space large, so LSH buckets stay selective at corpus
    scale.

    Built entirely with array expressions in one projection — no
    explode, no distinct, no shuffle: the per-document shingle set
    never becomes rows.  Signatures and the exact-jaccard verify both
    run on the carried arrays (array_min/array_intersect), so the
    whole near-dup pipeline shuffles only ids + band keys and, for
    the candidate pairs, one array per side."""
    toks = F.expr(TOKENS.format(x=text_col))
    from .tagger import ensure_parallelism

    df = ensure_parallelism(df)
    # NB: sequence(1, 0) descends in Spark — guard short docs explicitly
    shingles = F.expr(
        f"case when size(__toks) >= {n} then "
        f"array_distinct(transform(sequence(1, size(__toks) - {n - 1}), "
        f"i -> concat_ws(' ', slice(__toks, i, {n})))) "
        f"else array() end")
    return (df.select(id_col, toks.alias("__toks"))
            .select(id_col, shingles.alias("shset")))


def explode_once(df: DataFrame, keys: list[str], array_col: str,
                 alias: str, with_pos: str | None = None) -> DataFrame:
    """Explode ``array_col`` WITHOUT re-evaluating its construction
    per emitted element.  ``explode(col)`` lets CollapseProject
    inline a single-use array expression into the Generate, where it
    is re-computed once per OUTPUT row — O(len²) work per input row
    (measured 7× on 8-gram shingles at sf0.1).  Generating an index
    sequence instead references the array twice (size() in the
    generator, element_at() in the post-Generate projection), which
    blocks the inlining: the array is built exactly once per input
    row.  ``with_pos`` optionally emits the 0-based element index."""
    seq = (f"case when size({array_col}) > 0 "
           f"then sequence(1, size({array_col})) else array() end")
    rows = df.select(*keys, array_col,
                     F.posexplode(F.expr(seq)).alias("__j", "__i"))
    out = [*keys, F.expr(f"element_at({array_col}, __i)").alias(alias)]
    if with_pos:
        out.insert(len(keys), (F.col("__i") - 1).alias(with_pos))
    return rows.select(*out)


def exact_duplicate_groups(df: DataFrame, id_col: str,
                           text_col: str) -> DataFrame:
    """(hash, n_docs, doc_ids) for every group with n_docs > 1."""
    return (df.groupBy(F.md5(text_col).alias("content_hash"))
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.array_sort(F.collect_list(id_col)).alias("ids"))
            .filter(F.col("n_docs") > 1))


# Universal-hash family over a 31-bit prime field: one md5 turns each
# shingle into an int64 fingerprint, then every minhash function is a
# cheap (a_i*h + b_i) mod p mix — instead of num_hashes FULL md5
# passes over the shingle strings (the round-2 formulation's cost).
# a < 2^31 and h mod p < 2^31 keep the product under 2^62: no bigint
# overflow under ANSI mode, identical arithmetic in any engine.
MINHASH_P = (1 << 31) - 1

# ---------------------------------------------------------------------------
# No-silent-caps accounting: every degenerate-bucket cap groups its
# buckets through capped_buckets, which reports its drops to the
# caller's cap_audit() scope (the caps are oracle-mirrored; the audit
# makes them VISIBLE instead of silently shrinking recall).
_SCOPE: ContextVar[list[dict] | None] = ContextVar("cap_audit",
                                                   default=None)


@contextmanager
def cap_audit() -> Iterator[list[dict]]:
    """Collect the drops of every capped operator PLANNED inside the
    block, in this thread or task's context only: two driver threads
    with their own scopes never see each other's entries.  Each
    capped plan built here attaches unnamed Observations to its rows
    and grouped buckets; read the scope with :func:`cap_audit_rows`
    after the plans ran.  Outside a scope nothing is observed.  A
    memo hit (a ``minhash_near_duplicates`` call served from memo)
    plans nothing and dropped nothing in this run: it adds no entry.
    Once an Observation ran, Spark cannot serialize the session, so
    no task closure may hold it (``quality.py`` works around this)."""
    scope: list[dict] = []
    token = _SCOPE.set(scope)
    try:
        yield scope
    finally:
        _SCOPE.reset(token)


def record_cap(op: str, cap: int, unit: str,
               counts: tuple[int, int]) -> None:
    """Enter counts computed outside Spark (the canonical driver
    path) into the active scope, if any."""
    scope = _SCOPE.get()
    if scope is not None:
        scope.append({"op": op, "cap": cap, "unit": unit,
                      "obs": None, "counts": counts})


def cap_audit_rows(scope: list[dict]) -> list[dict]:
    """(op, cap, unit, n_units_capped, n_rows_dropped) per entry of
    ``scope``, in planning order.  Reading starts no Spark job: a
    plan that has not run reads as None counts, as does one whose
    observed stage AQE cut out (see ``session.get_spark``).  Spark
    completes Observations on its listener bus after the action
    returns, so while one is open the read drains the bus (<= 10 s)."""
    def done(ent: dict) -> bool:
        return all(o._jo.future().isCompleted() for o in ent["obs"])

    if any(e["obs"] and not done(e) for e in scope):
        try:
            SparkContext._active_spark_context._jsc.sc().listenerBus() \
                .waitUntilEmpty(10_000)
        except Py4JJavaError:  # still busy: read what completed
            pass
    out = []
    for ent in scope:
        units = rows = None
        if ent["obs"] is None:
            units, rows = ent["counts"]
        elif done(ent):  # getRow returns at once
            seen, kept = (o._jo.getRow() for o in ent["obs"])
            if seen.length() and kept.length():
                units = kept.get(0) or 0
                rows = seen.get(0) - (kept.get(1) or 0)
        out.append({"op": ent["op"], "cap": ent["cap"],
                    "unit": ent["unit"], "n_units_capped": units,
                    "n_rows_dropped": rows})
    return out


def capped_buckets(op: str, df: DataFrame, keys: list[str],
                   member: Column, cap: int | None,
                   unit: str) -> DataFrame:
    """(*keys, members): one row per bucket of ``df`` grouped on
    ``keys``, its non-null members in one array, only the buckets of
    at most ``cap`` members kept.  A row number lets at most ``cap +
    1`` rows of a bucket reach the collect (whose buffer cannot
    spill), enough to tell one over the cap, which ``size(members) <=
    cap`` drops whole; so which rows the limit keeps does not matter.
    The window reads ``df`` once and buffers a bucket spillably.
    Inside a :func:`cap_audit` scope, Observations count the rows in
    and, on the grouped frame, the capped buckets and members kept.
    That frame must reach its consumer through an exchange a
    ``limit`` cannot remove (an aggregate, a window), so that it
    always runs as a whole stage."""
    if cap is None:
        return df.groupBy(*keys).agg(F.collect_list(member).alias("members"))
    scope = _SCOPE.get()
    obs = (Observation(), Observation()) if scope is not None else None
    rows = df.filter(member.isNotNull())  # collect_list skips nulls
    if obs:
        rows = rows.observe(obs[0], F.count(F.lit(1)).alias("n_rows"))
    w = Window.partitionBy(*keys).orderBy(*keys)
    buckets = (rows.withColumn("__r", F.row_number().over(w))
               .filter(F.col("__r") <= cap + 1).groupBy(*keys)
               .agg(F.collect_list(member).alias("members")))
    size = F.size("members")
    if obs:
        buckets = buckets.observe(
            obs[1], F.sum((size > cap).cast("long")).alias("n_units_capped"),
            F.sum(F.when(size <= cap, size).otherwise(0)).alias("n_kept"))
        scope.append({"op": op, "cap": cap, "unit": unit, "obs": obs,
                      "counts": None})
    return buckets.filter(size <= cap)


def member_pairs(buckets: DataFrame, by: str | None = None) -> DataFrame:
    """(a, b): every pair of one bucket's members with a < b, compared
    on the struct field ``by`` if given.  Two explodes, the members
    and then, per member, the larger members: no row holds an array
    longer than its bucket, where an all-pairs array would hold the
    bucket's size squared."""
    def key(c: Column) -> Column:
        return c[by] if by else c

    return (buckets.select("members", F.explode("members").alias("a"))
            .select("a", F.explode(F.filter(
                "members", lambda y: key(y) > key(F.col("a"))))
                .alias("b")))


def minhash_ab(i: int) -> tuple[int, int]:
    """Fixed, engine-replicable multiplier/offset for hash i."""
    return ((104729 * (i + 1) + 7919) % MINHASH_P,
            (7919 * (i + 1) + 104729) % MINHASH_P)


def hash_shingles(shsets: DataFrame, id_col: str) -> DataFrame:
    """(id, shset: array<string>) → (id, shset: array<bigint>): one
    md5 fingerprint per shingle.  Signatures AND the exact-jaccard
    verify then run on int arrays — cheaper mixes, cheaper
    intersections, and candidate pairs ship 8-byte ints instead of
    shingle text."""
    h = MD5INT.format(x="s")
    return shsets.select(
        id_col, F.expr(f"transform(shset, s -> {h})").alias("shset"))


def minhash_signature(shsets: DataFrame, id_col: str,
                      num_hashes: int = 6) -> DataFrame:
    """shsets: (id, shset array<bigint>) → (id, mh0..mhk-1) in ONE
    projection (array_min over transform — no groupBy shuffle).
    Hash family: universal (a_i*h + b_i) mod 2^31-1 over the int64
    shingle fingerprints from :func:`hash_shingles`."""
    cols = []
    for i in range(num_hashes):
        a, b = minhash_ab(i)
        cols.append(F.array_min(F.expr(
            f"transform(shset, h -> "
            f"({a} * (h % {MINHASH_P}) + {b}) % {MINHASH_P})"))
            .alias(f"mh{i}"))
    return shsets.select(id_col, *cols)


def lsh_candidates(sigs: DataFrame, id_col: str, num_hashes: int = 6,
                   band_size: int = 2,
                   max_bucket: int | None = None) -> DataFrame:
    """Band the signatures: (d1, d2) candidate pairs, the documents
    sharing a (band, bucket key).

    Each bucket is grouped into one row and its pairs are expanded in
    place (:func:`member_pairs`), so the bands are never self-joined.
    ``max_bucket`` drops degenerate buckets before the expansion —
    the O(k²) guard that keeps a pathological band from exploding at
    corpus scale (the dropped docs still dedup via the exact pass)."""
    # ONE pass over the signatures: all band keys in a single array
    # projection, then posexplode.  (A union of per-band selects
    # recomputes the whole minhash projection once per band — 3× the
    # md5 work for 3 bands.)
    band_arr = F.array(*[
        F.md5(F.concat_ws(",", *[
            F.col(f"mh{band * band_size + j}").cast("string")
            for j in range(band_size)]))
        for band in range(num_hashes // band_size)])
    # explode_once: a direct posexplode(band_arr) would inline the
    # minhash transforms into the Generate and re-run them per band
    bands = explode_once(sigs.select(id_col, band_arr.alias("__bands")),
                         [id_col], "__bands", "bkey", with_pos="band")
    buckets = capped_buckets("lsh_candidates", bands, ["band", "bkey"],
                             F.col(id_col), max_bucket,
                             "minhash band buckets")
    return (member_pairs(buckets)
            .select(F.col("a").alias("d1"), F.col("b").alias("d2"))
            .distinct())


def jaccard_verify(candidates: DataFrame, shsets: DataFrame,
                   id_col: str, threshold: float) -> DataFrame:
    """Exact set-jaccard for candidate pairs via the carried arrays:
    two equi-joins pull each side's shingle array onto the pair row,
    array_intersect computes the overlap in-place — no shingle-level
    shuffle, no re-aggregation (only candidate docs' arrays move)."""
    s1 = shsets.select(F.col(id_col).alias("d1"),
                       F.col("shset").alias("__s1"))
    s2 = shsets.select(F.col(id_col).alias("d2"),
                       F.col("shset").alias("__s2"))
    inter = F.size(F.array_intersect("__s1", "__s2"))
    return (candidates.join(s1, "d1").join(s2, "d2")
            .withColumn("n_inter", inter)
            .withColumn("n_union",
                        F.size("__s1") + F.size("__s2")
                        - F.col("n_inter"))
            .withColumn("jaccard_raw",
                        F.col("n_inter") / F.col("n_union"))
            .filter(F.col("jaccard_raw") >= threshold)
            .drop("__s1", "__s2"))


def minhash_near_duplicates(df: DataFrame, id_col: str, text_col: str,
                            num_hashes: int = 6, band_size: int = 2,
                            threshold: float = 0.9,
                            max_bucket: int | None = 2000) -> DataFrame:
    """Full near-dup pipeline over 3-token shingles: (d1, d2, jaccard).

    Shuffle budget: banding shuffles (id, band, bkey) rows only; the
    verify joins move one shingle-FINGERPRINT array (8-byte ints, not
    shingle text) per candidate side.  The shingle sets themselves
    are computed projection-only and never explode into rows (docs
    with zero shingles are excluded, matching the relational oracle's
    inner joins)."""
    # Two memo entries, both persisted.  The fingerprint table has
    # three consumers within one invocation; the VERIFIED pair set
    # (tiny) is shared by the near-dup family (pairs / keep-best /
    # components) over one corpus, so they run one banding+verify
    # instead of three.  A bare .persist() would also reuse them —
    # Spark's CacheManager matches identical plans — but would leak
    # one cache entry per distinct input forever.  Keyed on
    # input_fingerprint (input files AND plan digest, so neither
    # same-schema corpora nor a docs.filter(...) over the same files
    # collide) plus params.
    spark = df.sparkSession
    ident = input_fingerprint(df)
    key = ("shingles", ident, id_col, text_col) if ident else None

    def shingle_table() -> DataFrame:
        sets = shingle_sets(df, id_col, text_col)
        return hash_shingles(sets, id_col).filter(F.size("shset") > 0)

    def pairs() -> DataFrame:
        sets = memo(spark, key, shingle_table, persist=True)
        sigs = minhash_signature(sets, id_col, num_hashes)
        cand = lsh_candidates(sigs, id_col, num_hashes, band_size,
                              max_bucket)
        verified = jaccard_verify(cand, sets, id_col, threshold)
        return verified.select(
            "d1", "d2",
            ratio_round("n_inter", "n_union", 4).alias("jaccard"))

    pkey = (key, num_hashes, band_size, threshold, max_bucket) \
        if key is not None else None
    return memo(spark, pkey, pairs, persist=True)


def substring_duplicate_spans(df: DataFrame, id_col: str, text_col: str,
                              k: int = 8, min_span: int = 10,
                              max_df: int = 50) -> DataFrame:
    """Cross-document duplicated-SPAN detection (the Lee et al. 2022
    "Deduplicating Training Data" operator): maximal runs of shared
    k-token grams between document pairs, reported as
    (d1, d2, start1, start2, span_len) for spans of at least
    ``min_span`` tokens.  Doc-level dedup misses these — two mostly
    distinct pages sharing one long boilerplate paragraph is a span
    problem, not a document problem.

    Plan shape (vs the paper's suffix array, which doesn't
    distribute): (1) per-doc k-gram fingerprints WITH token
    positions, built in one array projection and exploded once —
    one row per token position, the operator's inherent cost;
    (2) one group per fingerprint; ``max_df`` drops fingerprints
    occurring more than that many times corpus-wide — the
    degenerate-gram guard that keeps a ubiquitous boilerplate 8-gram
    from going quadratic (same posture as every LSH ``max_bucket``
    here); (3) each kept group expands its cross-document pairs
    (d1 < d2) in place → hit list, which is tiny relative to the
    position list; (4) merge hits on the same pair diagonal
    (p1 - p2) with consecutive positions into maximal spans via ONE
    window + ONE aggregate (the islands-and-gaps trick: p1 -
    row_number is constant within a run).  Total: one shuffle for
    the fingerprint group, one for the window — no all-pairs stage
    anywhere."""
    from .tagger import ensure_parallelism

    toks = F.expr(TOKENS.format(x=text_col))
    h = MD5INT.format(x=f"concat_ws(' ', slice(__toks, i, {k}))")
    fps = F.expr(
        f"transform(sequence(1, size(__toks) - {k - 1}), i -> {h})")
    base = (ensure_parallelism(df)
            .select(id_col, toks.alias("__toks"))
            .filter(F.size("__toks") >= k)
            .select(id_col, fps.alias("__fps")))
    pos_fp = explode_once(base, [id_col], "__fps", "fp", with_pos="pos")
    # one row per fingerprint (at most max_df occurrences) expands its
    # d1 < d2 hits in place: no self-join plans the scan twice
    groups = capped_buckets(
        "substring_duplicate_spans", pos_fp, ["fp"],
        F.struct(F.col(id_col).alias("d"), F.col("pos").alias("p")),
        max_df, "k-gram fingerprints")
    hits = (member_pairs(groups, by="d")
            .select(F.col("a.d").alias("d1"), F.col("a.p").alias("p1"),
                    F.col("b.d").alias("d2"), F.col("b.p").alias("p2"))
            .withColumn("diag", F.col("p1") - F.col("p2")))
    w = Window.partitionBy("d1", "d2", "diag").orderBy("p1")
    runs = hits.withColumn(
        "grp", F.col("p1") - F.row_number().over(w))
    return (runs.groupBy("d1", "d2", "diag", "grp")
            .agg(F.min("p1").alias("start1"),
                 F.min("p2").alias("start2"),
                 (F.max("p1") - F.min("p1") + k).cast("long")
                 .alias("span_len"))
            .filter(F.col("span_len") >= min_span)
            .select("d1", "d2", "start1", "start2", "span_len"))


def substring_dedup_clean(df: DataFrame, id_col: str, text_col: str,
                          k: int = 8, min_span: int = 10,
                          max_df: int = 50) -> DataFrame:
    """The actionable half of duplicated-span removal: for every
    document that shares a >= ``min_span``-token span with an
    EARLIER document (keep-first-by-id, the same keeper convention
    as exact dedup), cut the shared spans and emit the cleaned text.

    Returns (id, n_removed, n_kept, clean_text) for AFFECTED
    documents only — the edit list a curation pass applies, not a
    full corpus rewrite.  Positions to remove come straight from
    :func:`substring_duplicate_spans` (d2 side = the later doc);
    overlapping spans union via a distinct.  The cut itself is a
    projection: the per-doc covered-position set rides as one array
    and an indexed filter/transform rebuilds the text in place —
    no token-level join, no re-aggregation of text."""
    spans = substring_duplicate_spans(df, id_col, text_col,
                                      k=k, min_span=min_span,
                                      max_df=max_df)
    cov_rows = explode_once(
        spans.select("d2", F.expr(
            "sequence(start2, start2 + span_len - 1)").alias("__ps")),
        ["d2"], "__ps", "pos")
    # collect_set dedups overlapping spans' positions — an explicit
    # distinct here would shuffle the largest intermediate twice
    cov = cov_rows.groupBy("d2").agg(
        F.array_sort(F.collect_set("pos")).alias("__cov"))
    toks = F.expr(TOKENS.format(x=text_col))
    from .tagger import ensure_parallelism

    base = ensure_parallelism(df).select(id_col, toks.alias("__toks"))
    clean = F.expr(
        "concat_ws(' ', transform(filter("
        "transform(__toks, (t, i) -> named_struct('t', t, 'i', i)), "
        "s -> not array_contains(__cov, s.i)), s -> s.t))")
    return (base.join(cov, F.col(id_col) == F.col("d2"))
            .select(id_col,
                    F.size("__cov").cast("long").alias("n_removed"),
                    (F.size("__toks") - F.size("__cov")).cast("long")
                    .alias("n_kept"),
                    clean.alias("clean_text")))


def embedding_near_duplicates(df: DataFrame, id_col: str, vec_col: str,
                              threshold: float = 0.95,
                              nbits: int = 8, nbands: int = 2,
                              max_bucket: int | None = 20_000
                              ) -> DataFrame:
    """Embedding-cosine near-dup: MULTI-BAND sign-LSH candidates +
    exact cosine verify.  (d1, d2, cosine).

    Scale posture (the round-2 fix): a single 2^nbits code is a hard
    bucket ceiling — at 10^9 vectors, 256 buckets means ~4M rows per
    bucket and a quadratic pair expansion inside each.  Two guards:

    * ``nbands`` independent b-bit codes over disjoint dim slices —
      a pair is a candidate if ANY band matches (recall ↑), and
      total selectivity scales with nbands × 2^nbits buckets;
    * ``max_bucket`` drops degenerate (band, code) buckets before the
      pair expansion (same guard as the minhash path's
      lsh_candidates) — a pathological all-same-sign corpus can no
      longer go quadratic.

    Each (band, code) bucket is grouped into one row of ids and its
    pairs are expanded in place (:func:`member_pairs`), never
    self-joined; vectors ride along only for the verified candidate
    pairs (two equi-joins pull each side's array onto the pair
    row)."""
    from .similarity import _cosine, _with_norm, sign_bucket

    v = _with_norm(df, id_col, vec_col, "d")
    codes = F.array(*[sign_bucket("d_vec", nbits, offset=b * nbits)
                      for b in range(nbands)])
    bands = explode_once(v.select("d", codes.alias("__codes")),
                         ["d"], "__codes", "code", with_pos="band")
    buckets = capped_buckets("embedding_near_duplicates", bands,
                             ["band", "code"], F.col("d"), max_bucket,
                             "sign-code buckets")
    cand = (member_pairs(buckets)
            .select(F.col("a").alias("d1"), F.col("b").alias("d2"))
            .distinct())
    s1 = v.select(F.col("d").alias("d1"), F.col("d_vec").alias("d1_vec"),
                  F.col("d_norm").alias("d1_norm"))
    s2 = v.select(F.col("d").alias("d2"), F.col("d_vec").alias("d2_vec"),
                  F.col("d_norm").alias("d2_norm"))
    pairs = (cand.join(s1, "d1").join(s2, "d2")
             .withColumn("cosine", _cosine("d1", "d2")))
    return (pairs.filter(F.col("cosine") >= threshold)
            .select("d1", "d2",
                    F.round("cosine", 6).cast("double").alias("cosine")))


def simhash(df: DataFrame, id_col: str, text_col: str,
            nbits: int = 16) -> DataFrame:
    """(id, simhash): sign-aggregated token-hash bits.

    Bit j of a document's simhash is set when more of its tokens have
    bit j set in their md5 hash (``MD5INT``) than clear; a tie leaves
    it clear.  One Arrow map stage computes it with one python pass
    per document: md5 of each token, then a numpy sign vote over the
    nbits bits.  No token row ever leaves its document, and nothing
    is shuffled.  Docs with zero non-empty tokens (or a NULL text)
    emit no row, matching the relational oracle's group-by over
    exploded tokens."""
    shifts = np.arange(nbits, dtype=np.int64)

    def one(toks: list[str]) -> tuple[int] | None:
        if not toks:
            return None
        hs = np.array([md5int(t) for t in toks], np.int64)
        votes = (((hs[:, None] >> shifts) & 1) * 2 - 1).sum(axis=0)
        return (int((votes > 0) @ (1 << shifts)),)

    return python_pass(
        df, [text_col], [T.StructField("simhash", T.LongType(), False)],
        lambda texts: [one(tokens(t or "")) for t in texts], keep=[id_col])


# Winnowing constants: 8-code-point grams, 4-gram windows, base-131
# polynomial hash mod 2^31-1.  A gram is sum(c[i+j] * _RH_POWS[j]):
# code points < 2^21 and powers < 2^31, so 8 terms stay under 2^55
# and the int64 arithmetic never overflows.
_RH_K, _RH_W, _RH_B, _RH_P = 8, 4, 131, (1 << 31) - 1
_RH_POWS = [pow(_RH_B, _RH_K - 1 - j, _RH_P) for j in range(_RH_K)]


def _winnow_one(text: str) -> tuple[int, int, int | None]:
    """(n_grams, n_winnow, winnow_digest) of one text of at least
    ``_RH_K`` code points.  Fewer than ``_RH_W`` grams make no window:
    (n_grams, 0, None)."""
    c = np.frombuffer(text.encode("utf-32-le"), np.uint32).astype(np.int64)
    n = len(c) - _RH_K + 1
    g = sum(c[j:j + n] * p for j, p in enumerate(_RH_POWS)) % _RH_P
    m = n - _RH_W + 1
    if m <= 0:
        return n, 0, None
    mins = g[:m]
    for j in range(1, _RH_W):
        mins = np.minimum(mins, g[j:j + m])
    u = np.unique(mins)
    return n, len(u), int(u.sum() % _RH_P)


def winnow(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, n_grams, n_winnow, winnow_digest): winnowing fingerprint
    (Schleimer et al., SIGMOD 2003) of every text of at least 8 code
    points.

    Each 8-gram gets a polynomial hash, each window of 4 consecutive
    grams keeps its minimum, and the distinct minima are digested as
    their count and their sum mod p.  One Arrow map stage computes it
    with one vectorized numpy pass per document, O(n·k) for k = 8.
    A text of 8–10 code points has fewer grams than a window holds:
    n_winnow 0 and a NULL digest."""
    return python_pass(
        df.filter(F.length(text_col) >= _RH_K), [text_col],
        [T.StructField(n, T.LongType())
         for n in ("n_grams", "n_winnow", "winnow_digest")],
        lambda texts: map(_winnow_one, texts), keep=[id_col])
