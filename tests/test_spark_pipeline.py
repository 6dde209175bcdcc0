"""Spark layer: tagger parity vs oracle, KG pipeline, resume, K6/K7."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from lacspark.engine import LacEngine
from lacspark.spark import canonical
from lacspark.spark.canonical import canonical_map, connected_components
from lacspark.spark.kg import FILE_KEYS, mention_salience_topk, tag_files
from lacspark.spark.pipeline import run_pipeline
from lacspark.spark.repos_files import synth_repos_files
from lacspark.spark.tagger import (explode_mentions, explode_triples,
                                   tag_and_extract)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").limit(120).cache()


def test_tagger_matches_oracle_exactly(spark, docs):
    """The distributed plumbing (partitioning, Arrow transfer, worker
    singletons) must not change results: Spark output ≡ driver-side
    engine, row for row."""
    tagged = tag_and_extract(docs.repartition(7), "text", mode="rank")
    got = {r.doc_id: r for r in tagged.collect()}
    rows = docs.collect()
    eng = LacEngine()
    oracle = eng.run_batch([r.text for r in rows], "rank")
    for r, o in zip(rows, oracle):
        g = got[r.doc_id]
        assert list(g.words) == o.words
        assert list(g.tags) == o.tags
        assert list(g.ranks) == (o.ranks or [0] * len(o.words))
        om, ot = eng.extract(o)
        assert [tuple(m) for m in g.mentions] == om
        assert [(t.subj, t.pred, t.obj, t.conf, t.sal)
                for t in g.triples] == ot


def test_tag_files_matches_engine_line_by_line(spark):
    """File mode shares the document tagger's core: per file, the
    Spark output equals a driver-side engine run over its lines, with
    each mention/triple carrying its line's sent_id; sha_ok is False
    exactly for the row whose content_sha256 is wrong."""
    contents = {
        "empty.txt": "",
        "trailing.txt": "百度是一家高科技公司，李彦宏在北京创办了百度。\n",
        "multi.txt": ("百度是一家高科技公司，李彦宏在北京创办了百度。\n"
                      "LAC 2.0 supports 中文分词 and POS tagging\n\n"
                      "张三在上海大学学习计算机科学，他喜欢研究自然语言处理。"),
    }
    contents["bad_sha.txt"] = contents["multi.txt"]
    df = spark.createDataFrame(
        [("r", p, "c", "text", c) for p, c in contents.items()],
        "repo string, path string, commit string, lang string, "
        "content string")
    df = df.withColumn("content_sha256", F.sha2(
        F.when(F.col("path") == "bad_sha.txt", F.lit("x"))
        .otherwise(F.col("content")), 256))
    tagged = tag_files(df.repartition(3), mode="rank").cache()
    got = {r.path: r for r in tagged.collect()}
    eng = LacEngine()
    for path, content in contents.items():
        lines = content.split("\n")
        oracle = eng.run_batch(lines, "rank")
        want_m, want_t = [], []
        for sent_id, o in enumerate(oracle):
            m, t = eng.extract(o)
            want_m += [(sent_id, *x) for x in m]
            want_t += [(sent_id, *x) for x in t]
        g = got[path]
        assert g.n_lines == len(lines)
        assert g.n_tokens == sum(len(o.words) for o in oracle)
        assert [tuple(m) for m in g.mentions] == want_m
        assert [tuple(t) for t in g.triples] == want_t
        assert g.sha_ok == (path != "bad_sha.txt")
    assert any(m.sent_id > 0 for m in got["multi.txt"].mentions)
    assert got["multi.txt"].triples

    mentions = explode_mentions(tagged, FILE_KEYS)
    assert mentions.columns == FILE_KEYS + [
        "sent_id", "word", "tag", "rank", "word_idx", "char_begin"]
    assert mentions.count() == sum(len(g.mentions) for g in got.values())
    triples = explode_triples(tagged, FILE_KEYS)
    assert triples.columns == FILE_KEYS + [
        "sent_id", "subj", "pred", "obj", "conf", "sal"]
    tagged.unpersist()


def test_pipeline_tag_stage_is_sized_without_a_job(spark, tmp_path,
                                                   monkeypatch):
    """Building ``run_pipeline``'s tag stage starts no Spark job, and
    its width is the job's own: one ``hashpartitioning(bucket, n)``
    exchange at ``n_buckets >= cores`` (``SinglePartition`` at
    ``n == 1``); below, one round-robin exchange to ``cores`` and no
    bucket exchange.  At one core there is no width below."""
    import re

    from lacspark.spark import pipeline

    class Built(Exception):
        pass

    tracker = spark.sparkContext.statusTracker()

    def tag_then_stop(files, **kw):
        raise Built(tag_files(files, **kw), set(tracker.getJobIdsForGroup()))

    monkeypatch.setattr(pipeline, "tag_files", tag_then_stop)
    cores = spark.sparkContext.defaultParallelism
    files = synth_repos_files(spark, n_files=32)

    def by_bucket(n):
        return ["SinglePartition" if n == 1
                else f"hashpartitioning(bucket, {n})"]

    cases = [(cores, by_bucket(cores)), (2 * cores, by_bucket(2 * cores))]
    if cores > 1:
        cases.append((min(2, cores - 1), [f"RoundRobinPartitioning({cores})"]))
    for n_buckets, want in cases:
        before = set(tracker.getJobIdsForGroup())
        with pytest.raises(Built) as built:
            pipeline.run_pipeline(spark, files, str(tmp_path / "kg"),
                                  n_buckets=n_buckets, resume=False)
        tagged, jobs = built.value.args
        assert jobs == before, n_buckets
        plan = re.sub(r"#\d+", "", tagged._jdf.queryExecution()
                      .executedPlan().toString())
        # the tag map, then the exchanges down to the generator's map
        _, under_tag, _ = plan.split("MapInArrow")
        assert re.findall(r"Exchange (\w+\([^)]*\)|SinglePartition)",
                          under_tag) == want


def test_custom_lines_respected_in_udf(spark):
    df = spark.createDataFrame([(0, "春天的花开")], "doc_id long, text string")
    tagged = tag_and_extract(df, "text", mode="lac",
                             custom_lines=("春天/SEASON",))
    row = tagged.collect()[0]
    assert "SEASON" in list(row.tags)


def test_pipeline_end_to_end_and_resume(spark, tmp_path):
    out = str(tmp_path / "kg")
    files = synth_repos_files(spark, n_files=300).cache()
    m1 = run_pipeline(spark, files, out, run_id="r1", n_buckets=8,
                      build_graph=True)
    assert m1["n_files"] == 300
    assert m1["n_sha_bad"] == 0
    assert m1["n_triples"] > 0
    # resume: everything already committed → zero work
    m2 = run_pipeline(spark, files, out, run_id="r2", n_buckets=8,
                      build_graph=False)
    assert m2["n_files"] == 0 and m2["n_buckets_processed"] == 0
    # graph tables exist and are consistent
    v = spark.read.parquet(out + "/kg_vertices")
    e = spark.read.parquet(out + "/kg_edges")
    assert v.count() > 0 and e.count() > 0
    assert v.filter(F.col("canonical").isNull()).count() == 0
    # every edge endpoint id resolves... (self-entities allowed)
    assert e.filter(F.col("subj_id").isNull() | F.col("obj_id").isNull()) \
        .count() == 0


def test_pipeline_partial_resume(spark, tmp_path):
    """Kill-and-restart: lineage rows only for half the buckets →
    rerun processes exactly the other half."""
    out = str(tmp_path / "kg2")
    files = synth_repos_files(spark, n_files=200).cache()
    run_pipeline(spark, files, out, run_id="a", n_buckets=8,
                 build_graph=False)
    lineage = spark.read.parquet(out + "/lineage")
    # simulate a crash that committed only buckets 0-3
    kept_rows = lineage.filter(F.col("bucket") < 4).collect()
    schema = lineage.schema
    shutil.rmtree(out + "/lineage")
    spark.createDataFrame(kept_rows, schema).write.parquet(out + "/lineage")
    m = run_pipeline(spark, files, out, run_id="b", n_buckets=8,
                     build_graph=False)
    redone = set(
        r.bucket for r in spark.read.parquet(out + "/lineage")
        .filter(F.col("run_id") == "b").select("bucket").collect())
    assert redone == {4, 5, 6, 7}
    assert m["n_files"] > 0


def test_missing_lineage_resumes_from_nothing_corrupt_raises(spark,
                                                            tmp_path):
    """No lineage table means no committed bucket; a lineage table
    that cannot be read raises instead of passing for a missing one
    (which would redo every bucket and append next to the bad file)."""
    from lacspark.spark.pipeline import load_lineage

    out = str(tmp_path / "kg3")
    assert load_lineage(spark, out) is None
    files = synth_repos_files(spark, n_files=16)
    (tmp_path / "kg3" / "lineage").mkdir(parents=True)
    assert load_lineage(spark, out) is None  # a write that never committed
    (tmp_path / "kg3" / "lineage" / "part-0.parquet").write_text("junk")
    with pytest.raises(Exception, match="not a Parquet file|FOOTER"):
        run_pipeline(spark, files, out, run_id="c", n_buckets=2,
                     build_graph=False)
    assert not (tmp_path / "kg3" / "files").exists()


def test_minhash_deterministic_and_groups_similar(spark):
    data = [("spark_table",), ("spark_tables",), ("querymerge",),
            ("query_merge",), ("zzz",)]
    mentions = spark.createDataFrame(data, "word string")
    cmap1 = {r.form: r.canonical for r in canonical_map(mentions).collect()}
    cmap2 = {r.form: r.canonical for r in canonical_map(mentions).collect()}
    assert cmap1 == cmap2  # deterministic across runs
    assert cmap1["spark_table"] == cmap1["spark_tables"]
    assert cmap1["zzz"] == "zzz"


def test_connected_components_chain(spark, monkeypatch):
    verts = spark.createDataFrame([("a",), ("b",), ("c",), ("d",), ("e",)],
                                  "form string")
    edges = spark.createDataFrame([("b", "c"), ("c", "d")],
                                  "src string, dst string")
    expected = {"a": "a", "b": "b", "c": "b", "d": "b", "e": "e"}
    # driver union-find path (small graph)
    labels = {r.form: r.canonical
              for r in connected_components(verts, edges).collect()}
    assert labels == expected
    # distributed iterative path must agree exactly
    monkeypatch.setattr(canonical, "DRIVER_EDGES", 0)
    dist = {r.form: r.canonical
            for r in connected_components(verts, edges).collect()}
    assert dist == expected


def test_connected_components_long_chain_and_random(spark, monkeypatch):
    """large/small-star must agree with driver union-find on (a) a
    120-node chain — diameter far beyond the old 20-round min-label
    cap — and (b) a deterministic pseudo-random graph."""
    chain = [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(119)]
    import hashlib
    rand = [(f"v{int(hashlib.md5(f'a{i}'.encode()).hexdigest()[:4], 16) % 60:02d}",
             f"v{int(hashlib.md5(f'b{i}'.encode()).hexdigest()[:4], 16) % 60:02d}")
            for i in range(80)]
    for edge_list in (chain, rand):
        nodes = sorted({n for e in edge_list for n in e})
        verts = spark.createDataFrame([(n,) for n in nodes], "form string")
        edges = spark.createDataFrame(
            [e for e in edge_list if e[0] != e[1]], "src string, dst string")
        ref = {r.form: r.canonical
               for r in connected_components(verts, edges).collect()}
        with monkeypatch.context() as m:
            m.setattr(canonical, "DRIVER_EDGES", 0)
            dist = {r.form: r.canonical
                    for r in connected_components(verts, edges).collect()}
        assert dist == ref


def test_salience_topk(spark, docs):
    tagged = tag_and_extract(docs, "text", mode="rank")
    mentions = explode_mentions(tagged, ["doc_id"])
    top = mention_salience_topk(mentions, ["doc_id"], k=3)
    per_doc = top.groupBy("doc_id").count().agg(F.max("count")).collect()[0][0]
    assert per_doc <= 3


def test_very_long_document_through_spark_tagger(spark):
    """A 100k-char outlier document must flow through the Arrow batch
    + length-bucketed chunking intact (the join invariant holds and
    no row is truncated) alongside normal-size rows."""
    from lacspark.spark.tagger import tag_and_extract

    long_text = ("spark shuffles data across the cluster " * 2500).strip()
    assert len(long_text) > 90_000
    rows = [(1, long_text), (2, "short row"), (3, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in
           tag_and_extract(df, "text", mode="rank").collect()}
    assert "".join(out[1].words) == long_text
    assert "".join(out[2].words) == "short row"
    assert out[3].words == []
    assert len(out[1].ranks) == len(out[1].words)


def test_build_edges_salience_weighting(spark):
    """Edge weight folds O17 mention importance into provenance:
    each triple contributes conf x (1 + subj_rank + obj_rank), so a
    salient pair outweighs a throwaway pair at equal count; the raw
    salience sum rides along unmixed."""
    from lacspark.spark.graph import build_edges

    triples = spark.createDataFrame(
        [("alpha", "links", "beta", 0.5, 6),
         ("alpha", "links", "beta", 0.25, 0),
         ("gamma", "links", "delta", 0.75, 1)],
        "subj string, pred string, obj string, conf double, sal int")
    cmap = spark.createDataFrame(
        [], "form string, canonical string, entity_id long")
    rows = {(r.subj_canonical, r.obj_canonical): r
            for r in build_edges(triples, cmap).collect()}
    ab = rows[("alpha", "beta")]
    assert ab.weight == 0.5 * 7 + 0.25 * 1   # 3.75, exact
    assert ab.salience == 6 and ab.n_provenance == 2
    gd = rows[("gamma", "delta")]
    assert gd.weight == 0.75 * 2 and gd.salience == 1


def test_canonical_fast_path_matches_distributed(spark, docs,
                                                  monkeypatch):
    """canonical_map's driver fast path (python twin over the
    collected form set), the distributed banded path and
    ``canonical_map_py`` itself give the same rows on the same
    mentions — mentions with planted near-duplicate forms, so the
    three agree on merges and not only on singletons."""
    from lacspark.canonical_py import canonical_map_py

    tagged = tag_and_extract(docs, "text", mode="rank")
    planted = spark.createDataFrame(
        [(w,) for w in ("spark_table", "spark_tables", "knowledge_graph",
                        "knowledge_graphs", "Lexical_Analysis ",
                        "lexical_analyses")], "word string")
    mentions = (explode_mentions(tagged, ["doc_id"]).select("word")
                .unionByName(planted).cache())
    f = sorted(tuple(r) for r in canonical_map(mentions).collect())
    monkeypatch.setattr(canonical, "DRIVER_FORMS", 0)   # banded path
    s = sorted(tuple(r) for r in canonical_map(mentions).collect())
    cmap, _counts = canonical_map_py(
        [r.word for r in mentions.collect()])
    py = sorted((w, c, eid) for w, (c, eid) in cmap.items())
    assert f == s == py
    merged = {w: c for w, c, _eid in f if c != w}
    assert merged.get("spark_tables") == "spark_table"
    assert merged.get("lexical_analysis") == "lexical_analyses"


def test_canonical_char_budget_forces_distributed(spark, monkeypatch):
    """A pathological form set — few forms but very LONG ones — must
    fall through to the distributed path: the driver fast path's cost
    is total chars (3-grams x hashes), not form count, so the probe
    bounds chars too.  Exercised by shrinking the budget below the
    corpus; results must match the unconstrained run."""
    rows = [(f"entity {'x' * 500}{i % 7}",) for i in range(40)]
    mentions = spark.createDataFrame(rows, "word string")
    big = sorted(map(tuple, canonical_map(mentions).collect()))
    monkeypatch.setattr(canonical, "DRIVER_CHARS", 1_000)
    assert sorted(map(tuple, canonical_map(mentions).collect())) == big
