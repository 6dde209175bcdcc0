"""K6/K7: alias canonicalization — deterministic minhash/LSH +
connected components, all JVM-side (no python in the hot path).

Minhash signatures are computed **without any shuffle**: char-3-gram
arrays per surface form, k hash functions as md5 of a per-function
salt + gram (first 15 hex digits as int64 — identical arithmetic is
reproducible in DuckDB and pure python, which is how the golden-
parquet oracles for the KG queries are generated), reduced with
``array_min`` inside a projection.  Banding groups forms by band
key; candidate pairs are verified with exact n-gram Jaccard
(array_intersect/array_union on the carried gram arrays).  The
constants (hashes, band size, Jaccard bound, bucket cap) live in
``lacspark.canonical_py`` with the driver twin.  Everything is
seeded/deterministic — no rand(), no iteration-order dependence
(SURVEY §4.2 custom work (d)).

Connected components: large-star/small-star rounds over the
similarity edges (localCheckpoint per round, GraphFrames not
assumed).  Canonical id of a component = lexicographic min surface
form — deterministic under any parallelism.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lacspark.canonical_py import (BAND_SIZE, CAP_OP, CAP_UNIT,
                                   JACCARD_MIN, MAX_BUCKET, NUM_HASHES,
                                   canonical_map_py, union_find)

from .dedup import (MD5INT, capped_buckets, explode_once, member_pairs,
                    record_cap)
from .session import local_frame

# Driver bounds: below them a step runs on the driver in one job.
DRIVER_FORMS = 100_000    # distinct forms canonical_map canonicalizes
DRIVER_CHARS = 4_000_000  # ... and their total length
DRIVER_EDGES = 200_000    # edges (and vertices) CC unions on the driver
MAX_ROUNDS = 50           # large/small-star rounds before CC raises


def form(c: str) -> Column:
    """The surface form of column ``c``: ``lower(trim(c))``.  Forms
    shorter than 2 chars are never canonicalized."""
    return F.lower(F.trim(F.col(c)))


def surface_forms(mentions: DataFrame) -> DataFrame:
    """Distinct surface forms of ``word`` with their char-3-gram sets."""
    forms = (mentions.select(form("word").alias("form"))
             .filter(F.length("form") >= 2)
             .distinct())
    grams = F.array_distinct(F.expr(
        "transform(sequence(1, greatest(length(form) - 2, 1)), "
        "i -> substring(form, i, least(3, length(form))))"))
    return forms.withColumn("grams", grams)


def minhash_bands(forms: DataFrame) -> DataFrame:
    """Signature + LSH band keys, computed in one projection.
    Hash family: md5-int of 'c{i}:' || gram (pure-python replica:
    int(md5(f"c{i}:{gram}").hexdigest()[:15], 16))."""
    sig = F.array(*[
        F.array_min(F.expr(
            f"transform(grams, g -> "
            + MD5INT.format(x=f"concat('c{seed}:', g)") + ")"))
        for seed in range(NUM_HASHES)])
    banded = forms.withColumn("sig", sig)
    bands = F.array(*[
        F.md5(F.concat_ws(
            ",", F.lit(str(b)),
            *[F.col("sig")[b * BAND_SIZE + j].cast("string")
              for j in range(BAND_SIZE)]))
        for b in range(NUM_HASHES // BAND_SIZE)])
    # explode_once: a direct explode(bands) would inline the minhash
    # sig into the Generate and re-run it once per band
    return explode_once(
        banded.select("form", "grams", bands.alias("__bands")),
        ["form", "grams"], "__bands", "band").select("band", "form",
                                                     "grams")


def candidate_pairs(banded: DataFrame) -> DataFrame:
    """Form pairs within band buckets → verified similarity edges.

    Each band bucket is grouped into one row of (form, grams) members
    and its pairs are expanded in place (``dedup.member_pairs``), never
    self-joined.  Buckets larger than ``MAX_BUCKET`` are dropped (a
    bucket that big means a degenerate band — at 10^12-file scale it
    would quadratically explode; the dropped forms still canonicalize
    to themselves).
    """
    buckets = capped_buckets(CAP_OP, banded, ["band"],
                             F.struct("form", "grams"), MAX_BUCKET,
                             CAP_UNIT)
    pairs = (member_pairs(buckets, by="form")
             .select(F.col("a.form").alias("src"),
                     F.col("b.form").alias("dst"),
                     F.col("a.grams").alias("g1"),
                     F.col("b.grams").alias("g2"))
             .dropDuplicates(["src", "dst"]))
    jac = (F.size(F.array_intersect("g1", "g2")) /
           F.size(F.array_union("g1", "g2")))
    return (pairs.withColumn("jaccard", jac)
            .filter(F.col("jaccard") >= JACCARD_MIN)
            .select("src", "dst", "jaccard"))


def connected_components(vertices: DataFrame, edges: DataFrame
                         ) -> DataFrame:
    """Connected components; returns (form, canonical) with canonical
    = lexicographic min of the component.

    vertices: (form), edges: (src, dst).

    Scale split: up to ``DRIVER_EDGES`` edges and vertices the
    component graph is broadcast-scale — collect and union-find on
    the driver (one job instead of a multi-round distributed loop;
    results identical and deterministic).  Above it, alternating
    large-star/small-star rounds (the public MapReduce CC
    formulation: each round every node links its neighbors to its
    neighborhood minimum), which converges to star graphs in
    O(log n) rounds REGARDLESS of component diameter — a
    million-node alias chain finishes in ~20 rounds where min-label
    propagation would need a million.  The loop runs to a verified
    fixpoint (edge set unchanged), never returning partially-converged
    labels; ``MAX_ROUNDS`` is a runaway guard that raises rather than
    silently mislabeling.
    """
    # probe-by-collect: the limit(threshold+1) collect IS the size
    # probe AND the data fetch — one job each instead of count+collect
    edge_rows = edges.select("src", "dst") \
        .limit(DRIVER_EDGES + 1).collect()
    vert_rows = (vertices.limit(DRIVER_EDGES + 1).collect()
                 if len(edge_rows) <= DRIVER_EDGES else [])
    if len(edge_rows) <= DRIVER_EDGES and \
            len(vert_rows) <= DRIVER_EDGES:
        find = union_find((r.src, r.dst) for r in edge_rows)
        return local_frame(vertices.sparkSession,
                           [(r.form, find(r.form)) for r in vert_rows],
                           "form string, canonical string")
    # Orient every edge (hi, lo); both star operations preserve the
    # orientation, so `lo` is always the smaller label.
    e = (edges.select(F.greatest("src", "dst").alias("hi"),
                      F.least("src", "dst").alias("lo"))
         .filter(F.col("hi") != F.col("lo"))
         .distinct().localCheckpoint())
    n_prev = e.count()
    for _ in range(MAX_ROUNDS):
        # large-star: every node links its LARGER neighbors to its
        # neighborhood min (including itself)
        sym = e.union(e.select(F.col("lo").alias("hi"),
                               F.col("hi").alias("lo")))
        mins = (sym.groupBy("hi")
                .agg(F.least(F.min("lo"), F.first("hi")).alias("m")))
        e = (sym.join(mins, "hi")
             .filter(F.col("lo") > F.col("hi"))  # larger neighbors
             .select(F.col("lo").alias("hi"), F.col("m").alias("lo"))
             .distinct())
        # small-star: every node links its smaller neighbors (and
        # itself) to the min of that down-neighborhood
        mins = e.groupBy("hi").agg(F.min("lo").alias("m"))
        e = (e.join(mins, "hi")
             .filter(F.col("lo") != F.col("m"))
             .select(F.col("lo").alias("hi"), F.col("m").alias("lo"))
             .union(mins.select("hi", F.col("m").alias("lo")))
             .distinct().localCheckpoint())
        n_new = e.count()
        if n_new == n_prev and \
                e.join(sym, ["hi", "lo"], "left_anti").limit(1).count() == 0:
            # fixpoint: same edge count and no edge outside the
            # previous round's (symmetric) set → star graphs reached
            break
        n_prev = n_new
    else:
        raise RuntimeError(
            f"connected_components did not converge in {MAX_ROUNDS} "
            f"large/small-star rounds — refusing to return partial "
            f"labels (graph has ~{n_prev} star edges)")
    # stars: every non-root points straight at its component min
    return (vertices.join(e.select(F.col("hi").alias("form"),
                                   F.col("lo").alias("canonical")),
                          "form", "left")
            .select("form", F.coalesce("canonical", "form")
                    .alias("canonical")))


def canonical_map(mentions: DataFrame) -> DataFrame:
    """form → canonical (entity surface).  Forms shorter than 2 chars
    and forms with no similar neighbor map to themselves.

    Scale split (same pattern as connected_components): the DISTINCT
    form set is usually orders of magnitude smaller than the mention
    stream — when it fits ``DRIVER_FORMS`` the whole
    minhash/band/verify/union-find chain runs on the driver via the
    pure-python twin (``canonical_py.canonical_map_py``, which also
    generates the golden oracles).  That is ONE Spark job (the
    distinct + probe collect) instead of the banded chain's six,
    whose fixed per-job overhead dominates at small cardinalities.
    Above the bounds: the distributed banded path."""
    forms = surface_forms(mentions).persist()
    # probe-by-collect: the limit(N+1) IS both the size probe and,
    # when small, the data fetch (the persist keeps the big path from
    # recomputing the distinct)
    probe = forms.select("form").limit(DRIVER_FORMS + 1).collect()
    # the fast path's cost is total CHARS (char-3-grams x hashes), not
    # form count — a pathological corpus of few but very long forms
    # must not stall the driver single-threaded; beyond DRIVER_CHARS
    # the distributed path takes over
    if len(probe) <= DRIVER_FORMS and \
            sum(len(r.form) for r in probe) <= DRIVER_CHARS:
        cmap, counts = canonical_map_py([r.form for r in probe])
        # the same drop accounting the distributed cap observes
        record_cap(CAP_OP, MAX_BUCKET, CAP_UNIT, counts)
        rows = [(f, c, eid) for f, (c, eid) in sorted(cmap.items())]
        forms.unpersist()
        return local_frame(
            mentions.sparkSession, rows,
            "form string, canonical string, entity_id long")
    # CC probes the edge count and then reads edges again (driver
    # union-find or per-iteration joins) — materialize once
    edges = candidate_pairs(minhash_bands(forms)).persist()
    comp = connected_components(forms.select("form"), edges)
    comp = comp.localCheckpoint()  # cut lineage before unpersisting
    forms.unpersist()
    edges.unpersist()
    return comp.withColumn(
        "entity_id", F.expr(MD5INT.format(x="canonical")))
