"""Physical-plan regression guards: the properties that make these
queries scale must stay visible in the plan (predicate pushdown,
column pruning, broadcast joins, partial aggregation)."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from lacspark.queries import SPARK_QUERIES

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_tagger_scan_prunes_and_pushes(spark):
    from lacspark.spark.tagger import tag_and_extract

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    tagged = tag_and_extract(
        docs.select("doc_id", "text").filter("doc_id % 3 = 0"), "text")
    plan = plan_of(tagged)
    scan = [ln for ln in plan.splitlines() if "Scan parquet" in ln
            or "FileScan parquet" in ln][0]
    # only the two needed columns reach the scan; the filter reaches
    # the data source
    assert "doc_id" in scan and "text" in scan
    assert "lang" not in scan and "source" not in scan
    assert "PushedFilters" in plan or "DataFilters" in scan


def test_dimension_joins_broadcast(spark):
    plan = plan_of(SPARK_QUERIES["orders_by_nation"](spark, SF))
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan


def test_aggregates_are_partial_final(spark):
    plan = plan_of(SPARK_QUERIES["tpch_q1_pricing"](spark, SF))
    assert "partial_sum" in plan  # map-side combine before the shuffle


def test_ivf_assignment_is_shuffle_free(spark):
    """The IVF nearest-list assignment must stay a pure projection:
    codebook as literal, scores/argmax inside the same project — no
    Exchange, no Join before the final candidate equi-join."""
    from lacspark.spark.similarity import (_nearest_lists, _with_norm,
                                           kmeans_codebook)
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    cb = kmeans_codebook(e, "vec_id", "embedding", 64)
    assign = _nearest_lists(_with_norm(e, "vec_id", "embedding", "n"),
                            cb, "n", nprobe=1)
    plan = plan_of(assign)
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_keep_best_scans_documents_bounded(spark):
    """dedup_near_keep_best symmetrizes pairs with ONE explode; a
    union formulation re-executes the whole minhash DAG per branch
    (visible as extra parquet scans of documents)."""
    def scans(name):
        plan = plan_of(SPARK_QUERIES[name](spark, SF))
        return sum(1 for ln in plan.splitlines()
                   if "Scan parquet" in ln or "FileScan parquet" in ln)

    # keep-best = the minhash DAG once + exactly two length lookups;
    # a union symmetrization would duplicate the whole upstream DAG
    assert scans("dedup_near_keep_best") <= scans("dedup_minhash_lsh") + 2


def test_no_cartesian_products_in_oracle_suite(spark):
    # ann_bruteforce intentionally cross-joins a 10-row query set;
    # everything else must stay free of cartesian products
    for name, fn in SPARK_QUERIES.items():
        if name.startswith(("ann_bruteforce", "lac_", "kg_",
                            "mention_salience", "multimodal",
                            "ann_lsh_topk")):
            continue
        plan = plan_of(fn(spark, SF))
        assert "CartesianProduct" not in plan, name


def test_exact_pairs_single_shuffle_no_join(spark):
    """Keeper-form exact pairs must stay one window over the content
    hash: exactly one keyed Exchange, no self-join anywhere."""
    plan = plan_of(SPARK_QUERIES["dedup_exact_pairs"](spark, SF))
    assert "Join" not in plan
    assert plan.lower().count("exchange hashpartitioning") == 1


def test_embedding_multiband_no_cartesian_and_capped(spark):
    """Multi-band embedding LSH: candidates come from each (band, code)
    bucket's own row — never a cartesian product — and the degenerate-
    bucket cap's size filter sits before the pair expansion, with the
    per-bucket row limit before the collect that builds the row."""
    plan = plan_of(SPARK_QUERIES["dedup_embedding_cosine"](spark, SF))
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan
    # the max_bucket size filter, below (= before) the first pair
    # Generate in the printed tree
    cap = re.search(r"Filter .*size\(members#\d+, false\) <= 20000", plan)
    gen = plan.find("Generate explode(members")
    assert cap is not None and 0 <= gen < cap.start()
    # at most max_bucket + 1 rows of a bucket reach its collect: the
    # row-number limit sits below (= before) the final collect_list
    collect = plan.find("functions=[collect_list(")
    limit = re.search(r"Filter \(__r#\d+ <= 20001\)", plan)
    assert limit is not None and 0 <= collect < limit.start()


def test_kmeans_ivf_assignment_is_shuffle_free(spark):
    """The query side of ann_ivf_topk (nprobe=3) ranks the lists and
    explodes the top three inside the same projection: one Generate,
    no Exchange, no Join, and exactly nprobe rows per vector."""
    from lacspark.spark.similarity import (_nearest_lists, _with_norm,
                                           kmeans_codebook)
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    cb = kmeans_codebook(e, "vec_id", "embedding", 64,
                         n_lists=16, iters=2)
    probes = _nearest_lists(_with_norm(e, "vec_id", "embedding", "q"),
                            cb, "q", nprobe=3)
    plan = plan_of(probes)
    assert "Generate" in plan
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert probes.count() == 3 * e.count()


def test_repetition_stats_is_shuffle_free(spark):
    """The Gopher repetition fractions are a fold over each document's
    own tokens: no Exchange may appear (the relational formulation
    would shuffle one row per gram)."""
    plan = plan_of(SPARK_QUERIES["quality_repetition"](spark, SF)).lower()
    assert "exchange" not in plan


@pytest.mark.parametrize("name", ["quality_repetition", "corpus_curation"])
def test_repetition_fold_is_planned_once(spark, name):
    """The repetition gate runs once per document: the plan holds
    exactly one Arrow map stage and no SQL fold (``aggregate(``),
    which Spark would interpret row by row outside generated code."""
    df = SPARK_QUERIES[name](spark, SF)
    assert plan_of(df).count("MapInArrow") == 1
    assert "aggregate(" not in \
        df._jdf.queryExecution().optimizedPlan().toString()


def _fold_frames():
    from lacspark.spark.dedup import simhash
    from lacspark.spark.quality import (repetition_stats,
                                        with_repetition_keep)

    return {"simhash": lambda d: simhash(d, "doc_id", "text"),
            "repetition_stats": repetition_stats,
            "with_repetition_keep": with_repetition_keep}


@pytest.mark.parametrize("name", ["simhash", "repetition_stats",
                                  "with_repetition_keep"])
def test_document_folds_are_one_arrow_stage(spark, name):
    """simhash and the repetition gate each run as one Arrow map stage
    over the scan: batches cross to python in Arrow, never
    row-at-a-time BatchEvalPython, and no keyed shuffle."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(_fold_frames()[name](docs))
    assert plan.count("MapInArrow") == 1
    assert "BatchEvalPython" not in plan
    assert "hashpartitioning" not in plan.lower()


def test_token_count_bpe_is_arrow_and_shuffle_free(spark):
    """Subword counting is a stateless Arrow-batched pass: no keyed
    shuffle, and the python pass must be Arrow (one MapInArrow),
    never row-at-a-time BatchEvalPython."""
    plan = plan_of(SPARK_QUERIES["token_count_bpe"](spark, SF)).lower()
    assert "hashpartitioning" not in plan
    assert plan.count("mapinarrow") == 1
    assert "batchevalpython" not in plan


def _python_passes(spark, tmp_path):
    """{pass: (frame maker, the columns that must reach its map)} for
    every row-wise Python pass; the inputs hold more columns than the
    passes that keep a subset need."""
    from lacspark.spark import multimodal as mm
    from lacspark.spark.dedup import simhash, winnow
    from lacspark.spark.ingest import decode_text
    from lacspark.spark.kg import tag_files
    from lacspark.spark.quality import (repetition_stats,
                                        with_repetition_keep)
    from lacspark.spark.repos_files import SCHEMA, synth_repos_files
    from lacspark.spark.session import local_frame
    from lacspark.spark.subword import with_subword_counts
    from lacspark.spark.tagger import tag_and_extract
    from lacspark.training import training_rows

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    every = set(docs.columns)
    files = local_frame(spark, [("r", "p", "c", "python", "a\nb")],
                        SCHEMA).withColumn("content_sha256",
                                           F.sha2("content", 256))
    media = local_frame(spark, [(0, "image", b"x", "fake/v1")],
                        mm.MEDIA_SCHEMA)
    raw = docs.withColumn("raw", F.encode("text", "utf-8"))
    corpus = tmp_path / "train.txt"
    corpus.write_text("ab cd\n", encoding="utf-8")
    pair = {"doc_id", "text"}
    return {
        "tag_and_extract": (lambda: tag_and_extract(docs), every),
        "tag_files": (lambda: tag_files(files), set(files.columns)),
        "repetition_stats": (lambda: repetition_stats(docs), pair),
        "with_repetition_keep": (lambda: with_repetition_keep(docs), every),
        "simhash": (lambda: simhash(docs, "doc_id", "text"), pair),
        "winnow": (lambda: winnow(docs, "doc_id", "text"), pair),
        "with_subword_counts": (lambda: with_subword_counts(docs), every),
        "decode_text": (lambda: decode_text(raw, "raw", "decoded",
                                            "gb18030"), set(raw.columns)),
        "training_rows": (lambda: training_rows(spark, str(corpus), "seg"),
                          {"value"}),
        "extract_media_features": (
            lambda: mm.extract_media_features(media), set(media.columns)),
        "extract_real_features": (
            lambda: mm.extract_real_features(media), set(media.columns)),
        "resize_images": (lambda: mm.resize_images(media, 8, 8),
                          set(media.columns)),
        "synth_repos_files": (lambda: synth_repos_files(spark, 4), {"id"}),
        "media_table": (lambda: mm.synth_media(spark, 4), {"id"}),
    }


def _map_inputs(df) -> list[set[str]]:
    """The input columns of each MapInArrow of df's optimized plan."""
    found, todo = [], [df._jdf.queryExecution().optimizedPlan()]
    while todo:
        node = todo.pop()
        kids = node.children()
        todo += [kids.apply(i) for i in range(kids.size())]
        if node.getClass().getSimpleName() == "MapInArrow":
            out = node.child().output()
            found.append({out.apply(i).name() for i in range(out.size())})
    return found


@pytest.mark.parametrize("name", [
    "tag_and_extract", "tag_files", "repetition_stats",
    "with_repetition_keep", "simhash", "winnow", "with_subword_counts",
    "decode_text", "training_rows", "extract_media_features",
    "extract_real_features", "resize_images", "synth_repos_files",
    "media_table"])
def test_python_pass_is_one_arrow_map_of_its_columns(spark, tmp_path,
                                                      name):
    """Every row-wise Python pass is one MapInArrow (never a pandas
    map, a pandas UDF or row-at-a-time BatchEvalPython), and only the
    columns it reads or keeps reach that map."""
    make, cols = _python_passes(spark, tmp_path)[name]
    df = make()
    plan = plan_of(df)
    assert plan.count("MapInArrow") == 1
    for node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert node not in plan
    assert _map_inputs(df) == [cols]


def test_substring_spans_minimal_shuffles(spark):
    """At most three keyed shuffles for the span operator: it needs
    two, the fingerprint group that the df cap filters and the
    diagonal run-merge window; the groupBy after the run window must
    reuse the window's (d1, d2, diag) distribution instead of adding
    another."""
    plan = plan_of(
        SPARK_QUERIES["dedup_substring_spans"](spark, SF)).lower()
    assert plan.count("hashpartitioning") <= 3
    assert "cartesianproduct" not in plan


def test_lm_score_broadcasts_and_single_shuffle(spark):
    """The LM table is dictionary-shaped: both lookups must be
    broadcast hash joins (never sort-merge), leaving the per-doc
    aggregate as the only keyed shuffle, with map-side partials."""
    plan = plan_of(SPARK_QUERIES["quality_lm_score"](spark, SF)).lower()
    assert plan.count("broadcasthashjoin") == 2
    assert "sortmergejoin" not in plan
    assert plan.count("hashpartitioning") == 1


def test_pq_encode_is_pure_projection(spark):
    """PQ corpus encoding (the compressed form the ADC scan reads)
    must be a zero-shuffle projection — codebooks ride as literals
    (≙ broadcast), assignments are per-row argmins."""
    from lacspark.spark.similarity import pq_codebooks, pq_encode

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    books = pq_codebooks(emb, "vec_id", "embedding", 64,
                         m=8, k=32, iters=2)
    plan = plan_of(pq_encode(emb, "vec_id", "embedding",
                             books, 64)).lower()
    assert "hashpartitioning" not in plan
    assert "python" not in plan  # all JVM-side expressions
