"""No-silent-caps accounting (VERDICT r4 item 5): every degenerate-
bucket cap must report what it dropped.  Tests plant a degenerate
bucket, assert the audit counts are nonzero AND exact, and check the
capped result still matches an independent replay of the same capped
algorithm (the caps are correctness-mirrored, the audit makes them
visible)."""

from __future__ import annotations

import threading
import time

import pytest

from lacspark.spark.dedup import (cap_audit, cap_audit_rows,
                                  minhash_near_duplicates,
                                  substring_duplicate_spans)


def _write_docs(spark, path, rows):
    spark.createDataFrame(rows, "doc_id bigint, lang string, text string") \
        .coalesce(1).write.mode("overwrite") \
        .parquet(f"{path}/documents.parquet")
    return str(path)


def _planted(spark, path):
    """8 identical docs (one bucket per band over max_bucket=5) plus
    an honest near-dup pair (100, 101)."""
    clone = " ".join(f"c{i % 7}" for i in range(30))
    near = " ".join(f"n{i}" for i in range(30))
    rows = [(i, "en", clone) for i in range(8)]
    rows += [(100, "en", near), (101, "en", near + " extra")]
    return _write_docs(spark, path, rows)


def _honest(spark, path):
    """Six unrelated docs: no bucket reaches max_bucket=5."""
    rows = [(i, "en", " ".join(f"h{i}w{j}" for j in range(30)))
            for i in range(6)]
    return _write_docs(spark, path, rows)


def _minhash(spark, sf):
    return minhash_near_duplicates(
        spark.read.parquet(f"{sf}/documents.parquet"), "doc_id", "text",
        threshold=0.5, max_bucket=5)


def _counts(scope, op="lsh_candidates"):
    a = {r["op"]: r for r in cap_audit_rows(scope)}[op]
    return a["n_units_capped"], a["n_rows_dropped"]


def test_minhash_cap_audit_counts_planted_bucket(spark, tmp_path):
    """8 identical docs with max_bucket=5: every band bucket holds 8
    rows → all 3 bands capped (24 rows dropped), so the clones yield
    NO pairs, while a small honest near-dup pair elsewhere still
    verifies.  Counts are exact, not just nonzero."""
    sf = _planted(spark, tmp_path / "a")
    with cap_audit() as scope:
        pairs = _minhash(spark, sf)
    got = {(r.d1, r.d2) for r in pairs.collect()}
    assert got == {(100, 101)}, got
    audit = {r["op"]: r for r in cap_audit_rows(scope)}
    a = audit["lsh_candidates"]
    assert a["cap"] == 5
    # 6 hashes / band_size 2 = 3 bands; identical docs share one
    # bucket per band: 3 capped buckets × 8 rows each
    assert a["n_units_capped"] == 3
    assert a["n_rows_dropped"] == 24


def test_substring_cap_audit_counts_boilerplate_gram(spark, tmp_path):
    """A k-gram repeated across > max_df docs is dropped from the
    span join and counted; a rarer shared span still surfaces."""
    boiler = " ".join(f"b{i}" for i in range(8))  # one 8-gram
    rows = [(i, "en", boiler) for i in range(6)]  # df = 6 > max_df 4
    shared = " ".join(f"s{i}" for i in range(12))
    rows += [(100, "en", shared + " x1 y1"), (101, "en", shared + " z9")]
    sf = _write_docs(spark, tmp_path / "b", rows)
    with cap_audit() as scope:
        spans = substring_duplicate_spans(
            spark.read.parquet(f"{sf}/documents.parquet"), "doc_id",
            "text", k=8, min_span=10, max_df=4)
    got = [(r.d1, r.d2, r.start1, r.start2, r.span_len)
           for r in spans.collect()]
    # the 12-token shared prefix: 5 consecutive 8-gram hits → span 12
    assert got == [(100, 101, 0, 0, 12)]
    a = {r["op"]: r
         for r in cap_audit_rows(scope)}["substring_duplicate_spans"]
    assert a["cap"] == 4
    # exactly one distinct fingerprint (the boilerplate 8-gram)
    # exceeded max_df, dropping its 6 position rows
    assert a["n_units_capped"] == 1
    assert a["n_rows_dropped"] == 6


def test_canonical_fast_path_reports_drops(monkeypatch):
    """The driver fast path (canonical_py) reports the same counts
    the distributed candidate_pairs cap would."""
    from lacspark import canonical_py

    # > MAX_BUCKET identical forms land in one bucket per band
    monkeypatch.setattr(canonical_py, "MAX_BUCKET", 3)
    words = [f"entity{i:03d}" for i in range(4)] + ["samesame"] * 10
    cmap, (n_units_capped, n_rows_dropped) = canonical_py.canonical_map_py(
        ["samesame"] * 10 + words)
    assert n_units_capped >= 1
    assert n_rows_dropped >= 1
    # a capped form still canonicalizes to itself — drops degrade
    # recall, never correctness
    assert cmap["samesame"][0] == "samesame"


def test_pipeline_lineage_carries_cap_audit(spark, tmp_path):
    """run_pipeline lands the audit rows next to the lineage table
    and in its returned metrics — zeros prove the caps were inert on
    an honest corpus."""
    from lacspark.spark.catalog import read_table
    from lacspark.spark.pipeline import run_pipeline
    from lacspark.spark.repos_files import synth_repos_files

    files = synth_repos_files(spark, n_files=40)
    out = str(tmp_path / "kg_out")
    m = run_pipeline(spark, files, out, n_buckets=4, resume=False)
    assert isinstance(m["cap_audit"], list) and m["cap_audit"]
    ops = {r["op"] for r in m["cap_audit"]}
    assert "canonical_candidate_pairs" in ops
    for r in m["cap_audit"]:
        assert r["n_rows_dropped"] == 0  # honest corpus: caps inert
    audit_tbl = read_table(spark, out, "cap_audit")
    assert audit_tbl.count() == len(m["cap_audit"])
    assert {r.op for r in audit_tbl.collect()} == ops


def test_cap_audit_scopes_are_per_thread(spark, tmp_path):
    """Two driver threads run the same capped operator at once, each in
    its own scope: the planted corpus reads exactly its 3 buckets / 24
    rows and the honest one 0 / 0 — neither sees the other's run."""
    sfs = {"planted": _planted(spark, tmp_path / "p"),
           "honest": _honest(spark, tmp_path / "h")}
    barrier = threading.Barrier(2, timeout=300)
    got: dict = {}

    def run(name):
        try:
            with cap_audit() as scope:
                pairs = _minhash(spark, sfs[name])
            barrier.wait()  # both plans built before either runs
            pairs.collect()
            barrier.wait()  # both runs done before either reads
            got[name] = _counts(scope)
        except Exception as e:  # surfaced on the main thread
            barrier.abort()
            got[name] = e

    threads = [threading.Thread(target=run, args=(n,)) for n in sfs]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
        assert not t.is_alive()
    assert got == {"planted": (3, 24), "honest": (0, 0)}, got


@pytest.mark.parametrize("aqe", ["true", "false"])
def test_cap_audit_exact_after_limit(spark, tmp_path, aqe):
    """A limit(1) that reads one row of the result still runs the
    whole observed stage: the counts stay exact with AQE on or off."""
    key = "spark.sql.adaptive.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, aqe)
    try:
        sf = _planted(spark, tmp_path / "a")
        with cap_audit() as scope:
            pairs = _minhash(spark, sf)
        assert len(pairs.limit(1).collect()) == 1
        assert _counts(scope) == (3, 24)
    finally:
        spark.conf.set(key, before)


def test_cap_audit_unrun_plan_reads_none(spark, tmp_path):
    """A plan that never ran reads at once, as None counts."""
    sf = _planted(spark, tmp_path / "a")
    with cap_audit() as scope:
        _minhash(spark, sf)
    t0 = time.monotonic()
    assert _counts(scope) == (None, None)
    assert time.monotonic() - t0 < 1.0


def test_cap_audit_read_starts_no_job(spark, tmp_path):
    """Reading a scope adds zero Spark jobs: the counts were gathered
    while the plan ran."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = "cap-audit-read"
    sf = _planted(spark, tmp_path / "a")
    sc.setJobGroup(group, "cap audit read")
    try:
        with cap_audit() as scope:
            pairs = _minhash(spark, sf)
        pairs.collect()
        jobs = sorted(tracker.getJobIdsForGroup(group))
        assert jobs
        assert _counts(scope) == (3, 24)
        assert sorted(tracker.getJobIdsForGroup(group)) == jobs
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_quality_classifier_trains_after_cap_audit(spark, sf_dir,
                                                   tmp_path):
    """Once an Observation ran in a session, Spark cannot serialize
    that session; MLlib's training summary holds it, so the quality
    classifier must still train and score after a cap audit."""
    from lacspark.spark.quality import train_quality_classifier

    with cap_audit() as scope:
        _minhash(spark, _planted(spark, tmp_path / "a")).collect()
    assert _counts(scope) == (3, 24)
    res = train_quality_classifier(
        spark.read.parquet(f"{sf_dir}/documents.parquet"))
    assert res["auc"] >= 0.9, res


@pytest.mark.parametrize("aqe", ["true", "false"])
def test_topk_cap_audit_exact_under_sort_merge_join(spark, aqe):
    """With broadcasts off, the query probes join the corpus buckets
    by sort-merge, which never reads a bucket partition that no query
    probes.  The counts stay exact because the buckets reach that
    join through a shuffle of their own."""
    from pyspark.sql import functions as F

    from lacspark.spark.similarity import lsh_bucketed_topk, sign_bucket

    # ids < 200 share one all-positive code (a bucket over the cap of
    # 50); the rest spread over other codes
    vecs = spark.range(400).select(
        F.col("id").alias("vec_id"),
        F.expr("transform(sequence(1, 8), j -> cast(case when id < 200 "
               "then 1.0 else (case when (id * 7 + j * 13 + id * j) % 5 "
               "< 2 then -1.0 else 1.0 end) * (1 + 0.001 * id) end "
               "as float))").alias("embedding"))
    sizes = [r["count"] for r in vecs.groupBy(
        sign_bucket("embedding", 8)).count().collect()]
    want = (sum(n > 50 for n in sizes), sum(n for n in sizes if n > 50))
    assert want[0] >= 1 and len(sizes) > 2
    conf = {"spark.sql.adaptive.enabled": aqe,
            "spark.sql.autoBroadcastJoinThreshold": "-1"}
    before = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        with cap_audit() as scope:
            top = lsh_bucketed_topk(
                vecs.filter(F.col("vec_id") == 399), vecs, "vec_id",
                "embedding", k=5, nbits=8, probe_radius=0, nbands=1,
                max_bucket=50)
        assert len(top.collect()) == 5
        assert _counts(scope, "lsh_bucketed_topk") == want
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)
