"""Similarity search over embedding columns (array<float>).

* ``cosine_topk`` — brute-force exact top-k, the correctness
  baseline: cross-join + JVM-side dot products (zip_with/aggregate on
  double-cast arrays, no python).  Right answer for small query sets.
* ``ivf_topk`` — inverted lists from a deterministic k-means codebook;
  each query probes its ``nprobe`` nearest lists.
* ``lsh_bucketed_topk`` — the scale path: sign-bit LSH code over the
  first b dims turns the cross-join into an equi-join on bucket keys
  (candidates share a bucket), then exact re-ranking inside buckets.
  Recall < 1 by construction; multiple probe codes raise it.
* ``pq_topk`` — product-quantization ADC shortlist, then exact
  re-rank.

All four end in the same exact-cosine ``_top_k``; LSH and PQ reach it
through ``_rerank`` from id-only candidates.  The two codebooks (IVF
and PQ) share one seed pick (``_md5_seeds``) and one integer-grid mean
update (``_grid_means``).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from .dedup import capped_buckets
from .memo import input_fingerprint, memo
from .session import local_frame

_DOT = ("aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        "cast(0 as double), (acc, v) -> acc + v)")


def _with_norm(df: DataFrame, id_col: str, vec_col: str,
               out_id: str) -> DataFrame:
    return (df.select(F.col(id_col).alias(out_id),
                      F.expr(f"transform({vec_col}, x -> cast(x as double))")
                      .alias(f"{out_id}_vec"))
            .withColumn(f"{out_id}_norm", F.expr(
                "sqrt(" + _DOT.format(a=f"{out_id}_vec",
                                      b=f"{out_id}_vec") + ")")))


def _cosine(a: str, b: str):
    """Column: cosine of the ``{a}_vec``/``{b}_vec`` pair that
    :func:`_with_norm` frames carry, from their ``_norm`` columns."""
    return (F.expr(_DOT.format(a=f"{a}_vec", b=f"{b}_vec"))
            / (F.col(f"{a}_norm") * F.col(f"{b}_norm")))


def _top_k(pairs: DataFrame, k: int) -> DataFrame:
    """(query_id, neighbor_id, rnk, cosine): the k best neighbors of
    each query by (cosine desc, neighbor_id asc), cosine rounded to 6
    places — the tail every top-k operator ends in."""
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"),
                                               F.asc("neighbor_id"))
    return (pairs.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= k)
            .select("query_id", "neighbor_id", "rnk",
                    F.round("cosine", 6).alias("cosine")))


def _rerank(cand: DataFrame, queries: DataFrame, corpus: DataFrame,
            id_col: str, vec_col: str, k: int) -> DataFrame:
    """Exact-cosine top-k of id-only (query_id, neighbor_id)
    candidates: the vectors are joined on once per candidate pair,
    never carried through candidate generation."""
    qv = _with_norm(queries, id_col, vec_col, "query_id")
    nv = _with_norm(corpus, id_col, vec_col, "neighbor_id")
    return _top_k(cand.join(qv, "query_id").join(nv, "neighbor_id")
                  .withColumn("cosine", _cosine("query_id", "neighbor_id")),
                  k)


def cosine_topk(queries: DataFrame, corpus: DataFrame, id_col: str,
                vec_col: str, k: int = 5) -> DataFrame:
    """(query_id, neighbor_id, rnk, cosine) — exact top-k."""
    q = _with_norm(queries, id_col, vec_col, "query_id")
    n = _with_norm(corpus, id_col, vec_col, "neighbor_id")
    return _top_k(q.crossJoin(n)
                  .filter(F.col("neighbor_id") != F.col("query_id"))
                  .withColumn("cosine", _cosine("query_id", "neighbor_id")),
                  k)


def sign_bucket(vec_col: str, nbits: int = 8, offset: int = 0):
    """Column expr: nbits-bit sign code of dims
    [offset+1, offset+nbits].  Independent ``offset`` slices give the
    independent bands of multi-band LSH."""
    # try_element_at: a slice past the vector end yields NULL → the
    # bit stays 0 (ANSI element_at would throw; DuckDB's e[j] also
    # returns NULL, so the oracle twin agrees bit for bit)
    expr = " + ".join(
        f"(case when try_element_at({vec_col}, {offset + j + 1}) > 0 "
        f"then {1 << j} else 0 end)" for j in range(nbits))
    return F.expr(f"cast({expr} as bigint)")


def probe_masks(nbits: int, radius: int) -> list[int]:
    """All XOR masks within Hamming distance ``radius`` of a code —
    the multi-probe sequence (probe the exact bucket, then every
    bucket differing in ≤radius sign bits)."""
    masks = [0]
    if radius >= 1:
        masks += [1 << i for i in range(nbits)]
    if radius >= 2:
        masks += [(1 << i) | (1 << j)
                  for i in range(nbits) for j in range(i + 1, nbits)]
    return masks


def _fold_dot(a, b) -> float:
    """a·b as an in-order left fold from 0.0 — the float op sequence
    of ``_DOT``, so the driver-side replicas of PQ are bit-identical
    to the engine (and to DuckDB's in-order list_dot_product)."""
    s = 0.0
    for x, y in zip(a, b):
        s = s + x * y
    return s


def _scale_unit(cents: list[list[float]]) -> list[list[float]]:
    """Scale each centroid by 1/‖c‖ so cosine ranking equals plain
    dot-product ranking (the assignment then needs no norms)."""
    out = []
    for c in cents:
        nrm = math.sqrt(_fold_dot(c, c)) or 1.0
        out.append([float(v) / nrm for v in c])
    return out


def kmeans_codebook(corpus: DataFrame, id_col: str, vec_col: str,
                    dim: int, n_lists: int = 16, iters: int = 2
                    ) -> tuple[list[int], list[list[float]]]:
    """DETERMINISTIC spherical k-means codebook — works on any
    (id, vec) table, no label column needed (a real 100-TB embedding
    corpus has none).

    Every source of k-means nondeterminism is pinned so an oracle
    engine replays the identical iterations:

    * init: the ``n_lists`` vectors with the smallest
      (md5(id), id) — an unbiased, seedless, order-independent
      stratified pick; list_id = rank in that order;
    * assignment: cosine argmax against the codebook literal, ties
      broken toward the lowest list_id (both engines);
    * update: per-list component means computed by SCALED-INTEGER
      accumulation — each component is quantized to the 1e-6 grid
      (round(x*1e6) as bigint, a per-element deterministic op) and
      summed as exact integers, so the mean is bit-identical under
      ANY summation order or partitioning (a plain double avg is
      order-sensitive in the last ulp, and a knife-edge value could
      round differently across engines); empty lists drop out on
      both sides;
    * iteration count fixed (``iters``), no convergence test.

    Scale shape: each iteration is one shuffle-free assignment
    projection (codebook as literal ≙ broadcast) plus one
    constant-size aggregate (n_lists × dim avg columns, partial
    map-side) — iters+1 corpus scans total including the final
    assignment, no quadratic step anywhere.  Memoized on the
    corpus's input fingerprint, so rewritten data invalidates it."""
    fp = input_fingerprint(corpus)
    return memo(corpus.sparkSession,
                ("kmeans", fp, id_col, vec_col, dim, n_lists, iters)
                if fp else None,
                lambda: _kmeans(corpus, id_col, vec_col, dim, n_lists,
                                iters))


def _md5_seeds(df: DataFrame, id_col: str, k: int) -> list:
    """The k rows of ``df`` with the smallest (md5(id), id), in that
    order: the seedless, order-independent k-means init (unique ids
    make the pick a pure function of the data)."""
    return (df.withColumn("__h", F.md5(F.col(id_col).cast("string")))
            .orderBy("__h", id_col).limit(k).collect())


def _grid_means(df: DataFrame, keys: list[str], vec: str, dim: int
                ) -> list[tuple[tuple[int, ...], list[float]]]:
    """Sorted ((*key), mean vector) per group of ``keys``: each
    component of the ``vec`` array is quantized to the 1e-6 grid,
    summed as exact integers (any summation order gives the same
    sum), then divided half away from zero back onto the grid."""
    # INTEGER division, not F.round on the double quotient: F.round
    # rounds the shortest decimal repr (HALF_UP) while DuckDB rounds
    # the binary double, so a decimal-midpoint mean (2-member group
    # with odd component sum) would diverge the codebook
    sums = [F.sum(F.expr(f"cast(round(element_at({vec}, {j + 1}) "
                         f"* 1000000, 0) as bigint)"))
            .alias(f"__s{j}") for j in range(dim)]
    cent = [F.expr(
        f"cast((case when __s{j} >= 0 "
        f"then (2 * __s{j} + __n) div (2 * __n) "
        f"else -((2 * (-__s{j}) + __n) div (2 * __n)) end) "
        f"as double) / 1000000.0").alias(f"__c{j}")
        for j in range(dim)]
    rows = (df.groupBy(*keys)
            .agg(*sums, F.count(F.lit(1)).alias("__n"))
            .select(*keys, *cent).collect())
    return sorted((tuple(int(r[c]) for c in keys),
                   [float(r[f"__c{j}"]) for j in range(dim)])
                  for r in rows)


def _kmeans(corpus: DataFrame, id_col: str, vec_col: str, dim: int,
            n_lists: int, iters: int
            ) -> tuple[list[int], list[list[float]]]:
    v = _with_norm(corpus, id_col, vec_col, "v")
    seeds = _md5_seeds(v.select("v", "v_vec"), "v", n_lists)
    ids = list(range(len(seeds)))
    cents = [[float(x) for x in r["v_vec"]] for r in seeds]
    for _ in range(iters):
        assigned = _nearest_lists(v, (ids, _scale_unit(cents)), "v",
                                  nprobe=1)
        means = _grid_means(assigned, ["list_id"], "v_vec", dim)
        ids = [key[0] for key, _c in means]
        cents = [c for _key, c in means]
    return ids, _scale_unit(cents)


def _nearest_lists(df: DataFrame, codebook, out_id: str,
                   nprobe: int) -> DataFrame:
    """(out_id, *vec cols, list_id) for the ``nprobe`` centroids
    nearest by cosine — ZERO shuffle: the codebook rides along as a
    literal array-of-arrays (it is small by construction; on a real
    cluster this is exactly a broadcast), scores are a transform over
    it, and the argmax/top-nprobe run inside the same projection.
    array_position takes the FIRST maximum → ties resolve to the
    lowest list id, matching the oracle's "order by cos desc,
    list_id" row_number."""
    list_ids, cents = codebook
    # single nested literals (one Literal node each) — a per-element
    # F.array(F.lit…) tree of n_lists × dim nodes costs seconds of
    # codegen compile before the first row is read
    cb = F.lit([[float(v) for v in c] for c in cents])
    ids_lit = F.lit([int(i) for i in list_ids])
    dot = _DOT.format(a=f"{out_id}_vec", b="c")
    scored = (df.withColumn("__cb", cb)
              .withColumn("__scores",
                          F.expr(f"transform(__cb, c -> {dot})")))
    if nprobe == 1:
        pick = ("element_at(__ids, cast(array_position(__scores, "
                "array_max(__scores)) as int))")
        return (scored.withColumn("__ids", ids_lit)
                .withColumn("list_id", F.expr(pick))
                .select(out_id, f"{out_id}_vec", f"{out_id}_norm",
                        "list_id"))
    # rank (score desc, index asc) inside the projection, then take
    # the first nprobe indices — still no shuffle
    n = len(list_ids)
    ranked = (f"array_sort(zip_with(__scores, sequence(0, {n - 1}), "
              f"(s, i) -> struct(s as s, i as i)), "
              f"(l, r) -> case when l.s > r.s then -1 "
              f"when l.s < r.s then 1 "
              f"when l.i < r.i then -1 when l.i > r.i then 1 "
              f"else 0 end)")
    probes = (f"transform(slice({ranked}, 1, {nprobe}), "
              f"x -> element_at(__ids, cast(x.i as int) + 1))")
    return (scored.withColumn("__ids", ids_lit)
            .withColumn("list_id", F.explode(F.expr(probes)))
            .select(out_id, f"{out_id}_vec", f"{out_id}_norm", "list_id"))


def _ivf_lists(corpus: DataFrame, id_col: str, vec_col: str, dim: int,
               n_lists: int, iters: int) -> tuple[tuple, DataFrame]:
    """(k-means codebook, corpus rows (neighbor_id, neighbor_id_vec,
    neighbor_id_norm, list_id)): every corpus vector in its one
    nearest list."""
    cb = kmeans_codebook(corpus, id_col, vec_col, dim,
                         n_lists=n_lists, iters=iters)
    return cb, _nearest_lists(
        _with_norm(corpus, id_col, vec_col, "neighbor_id"), cb,
        "neighbor_id", nprobe=1)


def ivf_topk(queries: DataFrame, corpus: DataFrame, id_col: str,
             vec_col: str, dim: int, k: int = 5,
             nprobe: int = 3, n_lists: int = 16, iters: int = 2
             ) -> DataFrame:
    """IVF (inverted-file) ANN: assign every corpus vector to its
    nearest coarse centroid (its *list*), probe each query against the
    ``nprobe`` nearest lists only, exact cosine re-rank inside them.
    The codebook comes from deterministic k-means over the vectors
    themselves (:func:`kmeans_codebook`) — no label column needed.
    Scale shape: constant-size aggregates build the
    codebook (collected to the driver and shipped back as literals —
    the broadcast pattern); list assignment is a pure projection with
    no shuffle; the only data movement is the candidate equi-join on
    list_id; with n_lists ≫ nprobe the re-rank touches
    ~nprobe/n_lists of the corpus.  Complements sign-LSH
    (`lsh_bucketed_topk`): IVF adapts to the data distribution, LSH
    is data-independent."""
    cb, n = _ivf_lists(corpus, id_col, vec_col, dim, n_lists, iters)
    q = _nearest_lists(_with_norm(queries, id_col, vec_col, "query_id"),
                       cb, "query_id", nprobe=nprobe)
    return _top_k(q.join(n, "list_id")
                  .filter(F.col("neighbor_id") != F.col("query_id"))
                  .withColumn("cosine", _cosine("query_id", "neighbor_id")),
                  k)


def ivf_list_sizes(corpus: DataFrame, id_col: str, vec_col: str,
                   dim: int, n_lists: int = 16, iters: int = 2
                   ) -> DataFrame:
    """(list_id, n_vectors): the IVF partition histogram — the skew
    diagnostic you'd watch before trusting nprobe at scale."""
    _cb, n = _ivf_lists(corpus, id_col, vec_col, dim, n_lists, iters)
    return (n.groupBy("list_id")
            .agg(F.count(F.lit(1)).alias("n_vectors")))


def lsh_bucketed_topk(queries: DataFrame, corpus: DataFrame, id_col: str,
                      vec_col: str, k: int = 5, nbits: int = 8,
                      probe_radius: int = 2, nbands: int = 4,
                      max_bucket: int | None = 100_000) -> DataFrame:
    """Approximate top-k with MULTI-BAND, MULTI-PROBE sign LSH: each
    of ``nbands`` independent bands takes its sign code from a
    disjoint ``nbits``-dim slice of the vector, and each query probes
    every bucket within ``probe_radius`` sign-bit flips of its code
    in EVERY band.  Recall compounds across bands (1-(1-p)^B); on
    the near-uniform synthetic embeddings fixture (LSH's worst case)
    the 4×8-bit radius-2 default measures recall@5 ≈ 0.79-0.85 at
    ~46% of the corpus scanned; clustered real embeddings concentrate
    neighbors into matching codes and scan far less for the same
    recall.  Requires nbands*nbits ≤ dim (a band slice past the
    vector end reads null → constant 0-bits, weakening that band).

    Plan shape for 10^12 vectors: the corpus is grouped into one row
    of ids per (band, bucket), and each query probe joins the bucket
    rows it hits, then expands their ids — candidate generation moves
    IDS ONLY.  The corpus's 512-byte vectors are joined back exactly
    once per DISTINCT candidate pair after a pair-level dedup, so a
    pair matching in all four bands is scored once, and the wide
    vectors never ride the multiplied band/probe fan-out.
    ``max_bucket`` caps the corpus buckets: a degenerate code holding
    more than that many vectors is dropped from candidate generation
    (recall degrades gracefully instead of the candidates going
    quadratic on an adversarial all-same-sign corpus).  Inert at test
    scale; the production knob for 10^9+ vectors."""
    masks = probe_masks(nbits, probe_radius)
    band_codes = F.array(*[
        F.struct(F.lit(b).alias("band"),
                 sign_bucket(vec_col, nbits, offset=b * nbits)
                 .alias("code"))
        for b in range(nbands)])
    n = (corpus.select(F.col(id_col).alias("neighbor_id"),
                       F.explode(band_codes).alias("bc"))
         .select("neighbor_id", "bc.band",
                 F.col("bc.code").alias("bucket")))
    # a struct join key the buckets are not partitioned by: its shuffle
    # runs the capped stage whole (a co-partitioned join skips some)
    buckets = capped_buckets("lsh_bucketed_topk", n, ["band", "bucket"],
                             F.col("neighbor_id"), max_bucket,
                             "sign-code buckets").select(
        F.struct("band", "bucket").alias("probe"), "members")
    q = (queries.select(F.col(id_col).alias("query_id"),
                        F.explode(band_codes).alias("bc"))
         .withColumn("__mask", F.explode(F.array(
             *[F.lit(m) for m in masks])))
         .select("query_id", F.struct("bc.band", F.expr(
             "cast(bc.code ^ __mask as bigint) as bucket")).alias("probe")))
    cand = (q.join(buckets, "probe")
            .select("query_id",
                    F.explode("members").alias("neighbor_id"))
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .distinct())
    return _rerank(cand, queries, corpus, id_col, vec_col, k)


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the compressed-domain ANN path
# ---------------------------------------------------------------------------

def _with_unit(df: DataFrame, id_col: str, vec_col: str,
               out_id: str) -> DataFrame:
    """(out_id, __u): L2-normalized double vector — PQ quantizes the
    normalized corpus so ADC sums approximate cosine directly."""
    d = _with_norm(df, id_col, vec_col, out_id)
    return d.select(
        out_id,
        F.expr(f"transform({out_id}_vec, x -> x / {out_id}_norm)")
        .alias("__u"))


def pq_codebooks(corpus: DataFrame, id_col: str, vec_col: str,
                 dim: int, m: int = 8, k: int = 16, iters: int = 2
                 ) -> list[tuple[list[int], list[list[float]]]]:
    """M independent DETERMINISTIC k-means codebooks over the
    subvectors of the L2-normalized corpus — the classic product
    quantizer (Jégou et al. 2011, "Product quantization for nearest
    neighbor search"), every nondeterminism pinned the same way as
    :func:`kmeans_codebook`:

    * seeds: the k vectors with the smallest (md5(id), id), shared
      by every subspace (one driver collect total); centroid id =
      rank in that order;
    * assignment: squared-L2 argmin against the codebook literal,
      computed as an IN-ORDER left-to-right fold over the subvector
      (zip_with + aggregate from 0.0 — the same float op sequence
      DuckDB's list_dot_product-style in-order sums replay), so the
      argmin and its tie-break (lowest centroid id; the literal
      list is kept id-sorted) are bit-identical in any engine;
    * update: scaled-integer (1e-6 grid) means; a centroid whose
      cell empties drops out on both sides (ORIGINAL ids are
      tracked, never re-densified, so the oracle's group-by-code
      replay can't skew);
    * fixed ``iters``, no convergence test.

    Returns per-subspace (ids, centroids).  Scale shape per
    iteration: ONE projection computes all M subspace assignments
    (codebooks ride as literals ≙ broadcast), a subspace-explode
    emits (m, code, subvec) rows, and ONE constant-size aggregate
    (m × k groups × ds sum columns) updates every codebook — 2 jobs
    per iteration regardless of M, no per-subspace passes.  Memoized
    on the corpus's input fingerprint, so rewritten data invalidates
    it."""
    fp = input_fingerprint(corpus)
    return memo(corpus.sparkSession,
                ("pq", fp, id_col, vec_col, dim, m, k, iters)
                if fp else None,
                lambda: _pq_kmeans(corpus, id_col, vec_col, dim, m, k,
                                   iters))


def _pq_kmeans(corpus: DataFrame, id_col: str, vec_col: str, dim: int,
               m: int, k: int, iters: int
               ) -> list[tuple[list[int], list[list[float]]]]:
    ds = dim // m
    u = _with_unit(corpus, id_col, vec_col, "p")
    seeds = _md5_seeds(u, "p", k)
    books = [(list(range(len(seeds))),
              [[float(x) for x in r["__u"][mi * ds:(mi + 1) * ds]]
               for r in seeds]) for mi in range(m)]
    for _ in range(iters):
        assigned = _pq_assign(u, books, ds)
        # one explode → one aggregate updates ALL M codebooks
        rows_expr = F.array(*[
            F.struct(F.lit(mi).alias("m"),
                     F.col(f"code_{mi}").alias("code"),
                     F.expr(f"slice(__u, {mi * ds + 1}, {ds})")
                     .alias("sub"))
            for mi in range(len(books))])
        exploded = assigned.select(
            F.explode(rows_expr).alias("r")).select("r.*")
        means = _grid_means(exploded, ["m", "code"], "sub", ds)
        # a FRESH list every iteration (callers may hold the memoized
        # object; in-place mutation once served stale cached literal
        # Columns — the SQL-string build regenerates per call, but
        # fresh lists stay the contract)
        books = [([key[1] for key, _c in means if key[0] == mi],
                  [c for key, c in means if key[0] == mi])
                 for mi in range(len(books))]
    return books


def _dbl_sql(x: float) -> str:
    """Exact SQL double literal: repr() emits the shortest decimal
    that round-trips, and Spark's parse (Java Double.parseDouble) is
    correctly rounded — so the JVM sees bit-for-bit the same double
    the driver holds."""
    return f"{x!r}D"


def _pq_cent_sql(cents: list[list[float]]) -> str:
    return ("array(" + ", ".join(
        "array(" + ", ".join(_dbl_sql(x) for x in c) + ")"
        for c in cents) + ")")


def _pq_id_sql(ids: list[int]) -> str:
    # L suffix: bigint elements, matching the F.lit(list[int]) the
    # codebooks originally rode as (python int → LongType)
    return "array(" + ", ".join(f"{int(i)}L" for i in ids) + ")"


def _pq_assign(u: DataFrame, books, ds: int) -> DataFrame:
    """Append code_0..code_{M-1} (ORIGINAL centroid ids) to a
    (…, __u) frame — pure projection, codebooks inlined as literals
    (≙ broadcast).  The whole projection ships as TWO selectExpr
    SQL strings parsed JVM-side in one round trip each: composing
    the same tree out of F.transform/zip_with/aggregate Columns
    burned ~0.6 s of py4j chatter per invocation at M=8/K=32
    (and chained withColumns, which re-analyze the whole
    literal-heavy plan per column, measured ~2.5 s).  The parsed
    expressions are identical to the Column forms — same in-order
    left fold from 0.0D, same argmin tie-break (array_position
    returns the FIRST minimum; the id list is kept id-sorted)."""
    dist_exprs = [
        f"transform({_pq_cent_sql(cents)}, c -> aggregate("
        f"zip_with(slice(__u, {mi * ds + 1}, {ds}), c, "
        f"(x, y) -> (x - y) * (x - y)), 0.0D, (a, v) -> a + v)) "
        f"AS __d{mi}"
        for mi, (_ids, cents) in enumerate(books)]
    mid = u.selectExpr("*", *dist_exprs)
    code_exprs = [
        f"element_at({_pq_id_sql(ids)}, "
        f"cast(array_position(__d{mi}, array_min(__d{mi})) as int)) "
        f"AS code_{mi}"
        for mi, (ids, _cents) in enumerate(books)]
    return mid.selectExpr(*u.columns, *code_exprs)


def pq_encode(corpus: DataFrame, id_col: str, vec_col: str,
              books, dim: int) -> DataFrame:
    """(id, code_0..code_{M-1}): the one-small-int-per-subspace
    compressed form — at 10^12 vectors this table is ~60× smaller
    than the raw vectors and is the ONLY thing the ADC scan reads.
    Pure projection, zero shuffle (codebooks are literals)."""
    m = len(books)
    ds = dim // m
    u = _with_unit(corpus, id_col, vec_col, "neighbor_id")
    return _pq_assign(u, books, ds).select(
        "neighbor_id", *[f"code_{mi}" for mi in range(m)])


# Query sets up to this many rows get their ADC lookup tables built
# on the driver (one bounded collect; each LUT row is m*k doubles ≈
# 2 kB at M=8/K=32, so the broadcast stays ≤ ~20 MB).  Larger query
# sets fall back to the distributed LUT build.
_PQ_QUERY_DRIVER_MAX = 10_000

# Shortlists whose bound (distinct query ids × rerank rows) is at
# most this many rows re-rank on the driver; larger take the
# distributed join+window re-rank.
_PQ_SHORTLIST_DRIVER_MAX = 100_000

# Corpora up to this many rows get their raw vectors mirrored into a
# driver-side dict for the exact re-rank (64-dim doubles → ≤ ~55 MB
# at the bound), memoized on the corpus input fingerprint like the
# code table.  Larger corpora fetch shortlisted vectors per query
# batch via the distributed semi-join — the 10^12-row path.
_PQ_VECS_DRIVER_MAX = 100_000


def _pq_corpus_vecs(corpus: DataFrame, id_col: str, vec_col: str, fp):
    """{id: double-widened vector} for the whole corpus when it fits
    the driver bound (the limit(N+1) probe doubles as the fetch),
    memoized on the corpus input fingerprint ``fp`` (None = non-file
    input, never reused).  Returns None past the bound; callers fall
    back to the distributed semi-join fetch.  The None verdict is
    memoized too: re-probing a >bound corpus would re-collect ~100k
    full vectors per invocation, costlier than the fallback it
    gates."""
    def build():
        rows = (corpus.select(F.col(id_col).alias("__id"),
                              F.col(vec_col).alias("__v"))
                .limit(_PQ_VECS_DRIVER_MAX + 1).collect())
        if len(rows) > _PQ_VECS_DRIVER_MAX:
            return None
        return {r["__id"]: [float(x) for x in r["__v"]] for r in rows}

    return memo(corpus.sparkSession,
                ("pq_vecs", fp, id_col, vec_col) if fp else None, build)


def _pq_rerank_driver(spark, srows, qvecs: dict, corpus: DataFrame,
                      id_col: str, vec_col: str, k: int,
                      nvecs: dict | None = None) -> DataFrame:
    """Exact-cosine re-rank of a collected shortlist, on the driver.
    ``qvecs`` is the {query_id: double-widened vector} dict the query
    LUT fast path already collected (no extra job for the query side).

    One distributed job: fetch the shortlisted corpus vectors by
    semi-join (corpus streams, the ≤100k-id set broadcasts).  All
    arithmetic replicates the engine ops bit-for-bit: float→double
    widen, squared-norm and dot as in-order left folds from 0.0,
    IEEE sqrt/divide, and the output rounding as
    BigDecimal(shortest-repr).setScale(6, HALF_UP) — exactly Spark's
    Round(double) — via Decimal(repr(v)) (python repr and Java
    Double.toString both emit the shortest round-tripping decimal,
    which is unique, so the digit strings agree)."""
    from decimal import ROUND_HALF_UP, Decimal

    id_type = corpus.select(F.col(id_col)).schema.fields[0].dataType
    out_schema = T.StructType([
        T.StructField("query_id", id_type),
        T.StructField("neighbor_id", id_type),
        T.StructField("rnk", T.IntegerType()),
        T.StructField("cosine", T.DoubleType()),
    ])
    if not srows:
        return local_frame(spark, [], out_schema)

    by_q: dict = {}
    need = set()
    for r in srows:
        by_q.setdefault(r["query_id"], []).append(r["neighbor_id"])
        need.add(r["neighbor_id"])
    if nvecs is None:
        idf = local_frame(
            spark, [(i,) for i in sorted(need)],
            T.StructType([T.StructField("__id", id_type)]))
        nrows = (corpus.select(F.col(id_col).alias("__id"),
                               F.col(vec_col).alias("__v"))
                 .join(F.broadcast(idf), "__id").collect())
        nvecs = {r["__id"]: [float(x) for x in r["__v"]]
                 for r in nrows}
    # a vector shortlisted by many queries is normed once
    norms = {i: math.sqrt(_fold_dot(nvecs[i], nvecs[i])) for i in need}
    out = []
    for qid in by_q:
        qv = qvecs[qid]
        qn = math.sqrt(_fold_dot(qv, qv))
        scored = []
        for nid in by_q[qid]:
            scored.append((_fold_dot(qv, nvecs[nid]) / (qn * norms[nid]),
                           nid))
        scored.sort(key=lambda t: (-t[0], t[1]))
        for rnk, (c, nid) in enumerate(scored[:k], start=1):
            out.append((qid, nid, rnk,
                        float(Decimal(repr(c)).quantize(
                            Decimal("0.000001"),
                            rounding=ROUND_HALF_UP))))
    return local_frame(spark, out, out_schema)


def _pq_query_luts(queries: DataFrame, id_col: str, vec_col: str,
                   books, m: int, ds: int):
    """((query_id, __lut0..__lut{M-1}) DataFrame, {query_id: vec} or
    None) — per-query ADC lookup tables
    lut[mi][cell] = dot(unit_query_sub, centroid); the second element
    is the collected query vectors (float→double widened) when the
    driver fast path ran, so the re-rank can reuse them without
    another job.

    Fast path (queries within _PQ_QUERY_DRIVER_MAX rows, the
    by-contract-small side): ONE bounded collect — the limit(N+1)
    probe doubles as the fetch — then pure-Python folds replicating
    the engine float ops EXACTLY (float→double widen, squared-norm as
    an in-order left fold from 0.0, java/IEEE sqrt, per-element
    divide, per-subspace in-order dot fold from 0.0 — the same op
    sequence as `_DOT`/`_with_unit`, so every LUT double is
    bit-identical to the distributed build and to the DuckDB oracle's
    list_dot_product replay).  This removes the round-trip-heavy
    lambda plan AND the localCheckpoint job the distributed build
    pays (~1.5 s constant at M=8/K=32 — VERDICT r5 item 4).

    Fallback (large query sets): the original distributed build —
    transform over the codebook literal + localCheckpoint as a
    CollapseProject barrier (a single-use projected column would be
    inlined into the join output and re-evaluate the whole
    32-centroid transform per PAIR — the explode_once trap)."""
    spark = queries.sparkSession
    rows = (queries.select(F.col(id_col).alias("query_id"),
                           F.col(vec_col).alias("__v"))
            .limit(_PQ_QUERY_DRIVER_MAX + 1).collect())
    if len(rows) <= _PQ_QUERY_DRIVER_MAX:
        out = []
        qvecs: dict = {}
        for r in rows:
            v = [float(x) for x in r["__v"]]
            nrm = math.sqrt(_fold_dot(v, v))
            u = [x / nrm for x in v]
            luts = [[_fold_dot(u[mi * ds:(mi + 1) * ds], cent)
                     for cent in books[mi][1]] for mi in range(m)]
            out.append((r["query_id"], *luts))
            qvecs[r["query_id"]] = v
        id_field = queries.select(F.col(id_col).alias("query_id")) \
            .schema.fields[0]
        schema = T.StructType(
            [id_field] + [T.StructField(f"__lut{mi}",
                                        T.ArrayType(T.DoubleType()))
                          for mi in range(m)])
        return local_frame(spark, out, schema), qvecs

    lut_exprs = [
        f"transform({_pq_cent_sql(books[mi][1])}, c -> aggregate("
        f"zip_with(slice(__u, {mi * ds + 1}, {ds}), c, "
        f"(x, y) -> x * y), 0.0D, (a, v) -> a + v)) AS __lut{mi}"
        for mi in range(m)]
    return (_with_unit(queries, id_col, vec_col, "query_id")
            .selectExpr("query_id", *lut_exprs).localCheckpoint(),
            None)


def pq_topk(queries: DataFrame, corpus: DataFrame, id_col: str,
            vec_col: str, dim: int, k: int = 5, m: int = 8,
            n_cents: int = 32, iters: int = 2, rerank: int = 100
            ) -> DataFrame:
    """PQ-ADC approximate top-k with exact re-rank — the
    compressed-domain scale path: score every corpus CODE row
    (M small-int columns) against each query by summing
    per-subspace centroid dot products (asymmetric distance
    computation), shortlist the top ``rerank`` by ADC, then join the
    real vectors for the shortlist only and re-rank by exact cosine.

    At 10^12 vectors the ADC scan reads the code table (~16 bytes a
    row) instead of 512-byte vectors, codebooks are broadcast
    literals, and exact vectors are fetched for rerank×queries rows
    only.  Composes with IVF (filter the code table to the probed
    lists first) — kept orthogonal here so each mechanism has its
    own oracle.  Measured on the near-uniform synthetic embeddings
    (PQ's worst case — no cluster structure for 8-dim×32-centroid
    cells to exploit): recall@5 = 0.72-0.90 across fixtures at the
    shipped M=8/K=32/rerank=100.  Returns
    (query_id, neighbor_id, rnk, cosine)."""
    ds = dim // m
    books = pq_codebooks(corpus, id_col, vec_col, dim, m=m,
                         k=n_cents, iters=iters)
    # Textbook ADC: per QUERY, precompute the lookup table
    # lut[m][cell] = dot(q_m, centroid) — 8×32 small folds on 50ish
    # query rows — so each of the query×corpus PAIRS costs just 8
    # lut lookups + 7 adds.  (Two rejected formulations: a per-pair
    # 64-element zip_with/aggregate fold — Spark evaluates
    # higher-order functions INTERPRETED, ~10 s at sf0.1 for 100k
    # pairs — and a per-pair unrolled 64-term expression, which fell
    # out of whole-stage codegen.  The LUT form is also the shape
    # that scales: per-query work is O(M·K), per-pair work O(M).)
    # Float order: adc = left-assoc sum of the M per-subspace dots,
    # each an in-order fold from 0.0 — exactly DuckDB's
    # ldp(q[1:8], cv0) + ldp(q[9:16], cv1) + …, the bit-exact
    # equivalence the exact-cosine comparisons already ride.
    #
    # Join orientation is the 10^12-row one: the CODE table streams
    # (it is the big side at scale and arrives partitioned) and the
    # small query set broadcasts.  The LUT frame is driver-built for
    # by-contract-small query sets (bit-identical pure-Python folds,
    # see _pq_query_luts) and localCheckpointed when built
    # distributed — the barrier matters because a single-use
    # projected column gets INLINED into its consumer by
    # CollapseProject (the explode_once trap): without it the whole
    # 32-centroid LUT transform re-evaluated per PAIR row.
    from .tagger import ensure_parallelism

    spark = queries.sparkSession
    q, qvecs = _pq_query_luts(queries, id_col, vec_col, books, m, ds)
    # The code table is the PQ INDEX: built once per corpus, queried
    # many times — so it is persisted in the memo, keyed on the corpus
    # input identity + quantizer params (non-file inputs get key None
    # = persisted for this invocation only, never reused).
    fp = input_fingerprint(corpus)
    codes = memo(spark,
                 ("pq_codes", fp, id_col, vec_col, dim, m, n_cents, iters)
                 if fp else None,
                 lambda: ensure_parallelism(pq_encode(
                     corpus, id_col, vec_col, books, dim)),
                 persist=True)
    # position of each ORIGINAL centroid id in the id-sorted
    # codebook, computed once per CORPUS row (not per pair)
    pos_exprs = [
        f"cast(array_position({_pq_id_sql(books[mi][0])}, code_{mi}) "
        f"as int) AS __pos{mi}"
        for mi in range(m)]
    scan = codes.selectExpr("neighbor_id", *pos_exprs)
    adc = " + ".join(f"element_at(__lut{mi}, __pos{mi})"
                     for mi in range(m))
    pairs = (scan.crossJoin(F.broadcast(q))
             .filter(F.col("neighbor_id") != F.col("query_id"))
             .withColumn("__adc", F.expr(adc))
             .select("query_id", "neighbor_id", "__adc"))
    w = Window.partitionBy("query_id").orderBy(F.desc("__adc"),
                                               F.asc("neighbor_id"))

    def shortlist(p: DataFrame) -> DataFrame:
        return (p.withColumn("__r", F.row_number().over(w))
                .filter(F.col("__r") <= rerank)
                .select("query_id", "neighbor_id"))
    # ---- exact re-rank over the shortlist ----
    # The shortlist holds at most (distinct query ids)×rerank rows —
    # small BY CONSTRUCTION (that is the whole point of a shortlist),
    # so the re-rank runs on the driver when that bound fits: one
    # collect of the distributed shortlist, one distributed semi-join
    # fetch of the shortlisted corpus vectors (corpus streams, id set
    # broadcasts — the 10^12-row orientation), then pure-Python folds
    # that replicate the engine float ops EXACTLY (see
    # _pq_query_luts).  Saves ~4 driver-scheduled stages (two joins +
    # window + final project) whose fixed cost dwarfed the 5k-row
    # work.  The bound is decided before the shortlist is built, so
    # it is evaluated once either way.  Larger bounds — or a query
    # set too big for the LUT fast path (qvecs is None) — take the
    # fully distributed re-rank.
    if qvecs is not None and len(qvecs) * rerank <= _PQ_SHORTLIST_DRIVER_MAX:
        # the shortlist shuffle keys on the (by-contract-small) query
        # id set — size its partition count to that cardinality; the
        # window reuses this partitioning.  The distributed re-rank
        # below keeps the session default, the 10^12-scale setting.
        n = max(1, min(8, len(qvecs)))
        srows = shortlist(pairs.repartition(n, "query_id")).collect()
        nvecs = _pq_corpus_vecs(corpus, id_col, vec_col, fp)
        return _pq_rerank_driver(spark, srows, qvecs, corpus,
                                 id_col, vec_col, k, nvecs=nvecs)
    return _rerank(shortlist(pairs), queries, corpus, id_col, vec_col, k)
