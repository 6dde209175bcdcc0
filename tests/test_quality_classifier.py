"""Quality-classifier trainer (spark/quality.py): the MLlib LR must
learn the heuristic labels from the features (high held-out AUC),
the hash split must be deterministic and disjoint, and the whole
path must be rerun-stable."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lacspark.spark.quality import (hash_split, heuristic_label,
                                    text_features,
                                    train_quality_classifier)

SF = "/root/testdata/sf0.001"


def test_split_deterministic_and_disjoint(spark):
    d = spark.read.parquet(f"{SF}/documents.parquet")
    tr1, te1 = hash_split(d)
    tr2, te2 = hash_split(d.repartition(7))
    assert te1.count() == te2.count()
    ids1 = {r.doc_id for r in te1.select("doc_id").collect()}
    ids2 = {r.doc_id for r in te2.select("doc_id").collect()}
    assert ids1 == ids2                       # partitioning-invariant
    assert tr1.count() + te1.count() == d.count()
    overlap = tr1.select("doc_id").join(te1.select("doc_id"), "doc_id")
    assert overlap.count() == 0


def test_classifier_learns_heuristic(spark):
    d = spark.read.parquet(f"{SF}/documents.parquet")
    res = train_quality_classifier(d)
    assert res["n_train"] + res["n_test"] == d.count()
    # the label IS a function of the features, so LR must separate
    # it well out of sample
    assert res["auc"] >= 0.9, res
    assert res["accuracy"] >= 0.85, res


def test_features_are_jvm_only(spark):
    d = spark.read.parquet(f"{SF}/documents.parquet")
    plan = text_features(d)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Arrow" not in plan


def test_repetition_stats_known_values(spark):
    """Hand-checked fractions: 'a b a b a b c' (13 chars) has 2-grams
    {a b: 3, b a: 2, b c: 1} -> top = 9/13, dup = 15/13 of DOCUMENT
    characters (the Gopher denominator; the uncapped occurrence sum
    can exceed 1 on degenerate repeats); tokens 7 total 3 distinct ->
    dup_token 4/7; single line -> 0."""
    from lacspark.spark.quality import repetition_stats

    clean = " ".join(f"w{i}" for i in range(20))
    df = spark.createDataFrame(
        [(0, "a b a b a b c"), (1, clean),
         (2, "line one\nline one\nother")],
        "doc_id bigint, text string")
    rows = {r.doc_id: r for r in
            repetition_stats(df).collect()}
    r0 = rows[0]
    assert r0.top_2gram_frac == round(9 / 13, 6)
    assert r0.dup_2gram_frac == round(15 / 13, 6)
    assert r0.dup_token_frac == round(4 / 7, 6)
    assert r0.dup_line_frac == 0.0 and r0.keep == 0
    assert rows[1].keep == 1 and rows[1].dup_2gram_frac == 0.0
    # doc 2: 3 lines, 2 distinct -> 1/3 > 0.30 limit -> rejected
    assert rows[2].dup_line_frac == round(1 / 3, 6)
    assert rows[2].keep == 0


# planted repeats: duplicate lines, all-same-token docs, tie-broken
# top grams, double spaces
_REPETITION_ROWS = [
    (0, "en", "q q q q q q q q"),
    (1, "en", "a b  a b  c d c d"),          # tie: a b / c d
    (2, "en", "para one\npara one\npara two\nx y z w v u t s"),
    (3, "en", "single"),                      # < 2 tokens: no row
    (4, "en", " ".join(f"t{i}" for i in range(30))),
]


def test_repetition_oracle_agreement_adversarial(spark, tmp_path):
    """Spark fold vs DuckDB relational replica on planted repeats."""
    import duckdb

    from lacspark.queries import ORACLE_SQL, SPARK_QUERIES

    path = str(tmp_path / "documents.parquet")
    spark.createDataFrame(_REPETITION_ROWS,
                          "doc_id bigint, lang string, text string") \
        .coalesce(1).write.mode("overwrite").parquet(path)
    sdf = SPARK_QUERIES["quality_repetition"](spark, str(tmp_path))
    s = sorted(tuple(r) for r in sdf.collect())
    con = duckdb.connect()
    con.execute(f"create view documents as select * from "
                f"read_parquet('{path}/*.parquet')")
    d = sorted(tuple(r) for r in
               con.execute(ORACLE_SQL["quality_repetition"]).fetchall())
    assert s == d
    assert len(s) == 4  # doc 3 filtered on both sides


@pytest.mark.parametrize("source", ["planted", "sf0.001"])
def test_repetition_keep_matches_stats_keep(spark, source):
    """The curation gate (with_repetition_keep) and quality_repetition
    (repetition_stats) make the same keep decision for every
    document; a document under 2 tokens has no stats row and is not
    kept."""
    from lacspark.spark.quality import (repetition_stats,
                                        with_repetition_keep)

    if source == "planted":
        df = spark.createDataFrame(
            _REPETITION_ROWS, "doc_id bigint, lang string, text string")
    else:
        df = spark.read.parquet(f"{SF}/documents.parquet")
    keep = {r.doc_id: r.keep for r in repetition_stats(df).collect()}
    gate = {r.doc_id: r.rep_keep for r in
            with_repetition_keep(df).select("doc_id", "rep_keep")
            .collect()}
    assert len(gate) == df.count() and set(keep) <= set(gate)
    assert {d: keep.get(d) == 1 for d in gate} == gate
    assert set(gate.values()) == {True, False}


def test_curation_excludes_repetition_failures(spark):
    """corpus_curation must be a subset of its old (pre-repetition)
    survivor set, and every excluded survivor must fail the
    repetition gate."""
    from lacspark.queries import SPARK_QUERIES

    sf = "/root/testdata/sf0.001"
    cur = {r.doc_id for r in
           SPARK_QUERIES["corpus_curation"](spark, sf).collect()}
    rep = {r.doc_id: r.keep for r in
           SPARK_QUERIES["quality_repetition"](spark, sf).collect()}
    assert all(rep.get(d) == 1 for d in cur)


def test_lm_score_matches_python_twin(spark, tmp_path):
    """Spark broadcast-join scorer == pure-python BigramLM on docs
    with seen bigrams, unseen continuations, and unseen contexts."""
    from lacspark.lm import default_lm
    from lacspark.queries import SPARK_QUERIES

    rows = [
        (0, "en", "the table scan was slow"),
        (1, "en", "table table table"),            # seen ctx, odd pairs
        (2, "en", "zzz unseen words qqq table"),   # unseen contexts
        (3, "en", "single"),                       # no bigrams: no row
    ]
    path = str(tmp_path / "documents.parquet")
    spark.createDataFrame(rows, "doc_id bigint, lang string, text string") \
        .coalesce(1).write.mode("overwrite").parquet(path)
    got = {r.doc_id: (r.n_bigrams, r.avg_nll) for r in
           SPARK_QUERIES["quality_lm_score"](spark, str(tmp_path))
           .collect()}
    lm = default_lm()
    for i, _l, t in rows:
        n, s = lm.score(t)
        if n == 0:
            assert i not in got
        else:
            assert got[i] == (n, s), (i, t)


def test_lm_unseen_context_uses_uniform_nll():
    from lacspark.lm import BigramLM, default_nllq, default_lm

    lm = default_lm()
    # unseen context -> P = 1/V exactly
    assert lm.nll_q6("never-seen-token", "x") == default_nllq()
    # seen bigram must beat its context's unseen continuation
    some_bi = next(iter(lm.bi))
    assert lm.nll_q6(*some_bi) < lm.nll_q6(some_bi[0],
                                           "never-seen-token")


def test_lm_score_agrees_on_decimal_midpoint_mean(spark, tmp_path):
    """A 2-bigram doc whose quantized nll sum is ODD puts the mean
    exactly on a 6-decimal midpoint (X.XXXXXX5) — Spark's F.round
    (shortest-repr HALF_UP) and DuckDB/python (binary-double round)
    disagree there, so the query must use integer half-up rounding.
    This constructs such a doc from the fixture and cross-checks all
    three engines."""
    import duckdb

    from lacspark.lm import default_lm
    from lacspark.queries import ORACLE_SQL, SPARK_QUERIES

    lm = default_lm()
    doc = None
    for (a, b), _c in sorted(lm.bi.items()):
        for (b2, c2), _c2 in sorted(lm.bi.items()):
            if b2 == b and (lm.nll_q6(a, b) + lm.nll_q6(b, c2)) % 2 == 1:
                doc = f"{a} {b} {c2}"
                break
        if doc:
            break
    assert doc is not None, "fixture has no odd-sum bigram chain"
    path = str(tmp_path / "documents.parquet")
    spark.createDataFrame([(0, "en", doc)],
                          "doc_id bigint, lang string, text string") \
        .coalesce(1).write.mode("overwrite").parquet(path)
    srow = SPARK_QUERIES["quality_lm_score"](spark, str(tmp_path)) \
        .collect()[0]
    con = duckdb.connect()
    con.execute(f"create view documents as select * from "
                f"read_parquet('{path}/*.parquet')")
    drow = con.execute(ORACLE_SQL["quality_lm_score"]).fetchone()
    n, s = lm.score(doc)
    assert (srow.n_bigrams, srow.avg_nll) == (n, s)
    assert (drow[1], drow[2]) == (n, s)
