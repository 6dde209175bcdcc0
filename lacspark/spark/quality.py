"""Per-document quality gates and quality-classifier training.

The heuristic gate (``punct_pct`` and ``quality_gate``) scores
documents in queries.quality_score and filters them, with the
``curation_sample`` and the Gopher repetition gate, in
queries.corpus_curation and queries.streaming_curation_counts.
Each rule is written once here.  The heuristic gate and the sample
are JVM projections; the repetition gate is one Arrow map stage, a
python pass per document: Spark interprets a SQL fold of
higher-order functions row by row, outside generated code.

The classifier trains a distributed logistic-regression model on
cheap JVM-computed text features to REPLACE the heuristic at corpus
scale (the standard bootstrap: heuristic labels → learned classifier
→ filter).  Everything stays in Spark ML (JVM, data-parallel):
feature extraction is a projection, training is MLlib's L-BFGS.

Deterministic: features and labels are pure functions of the text,
the train/test split is the md5-hash split of `sample_stratified`,
and LogisticRegression with fixed params has no random init.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lacspark.canonical_py import tokens

from .dedup import MD5INT, TOKENS
from .session import python_pass

FEATURES = ["n_chars", "n_tokens", "avg_token_len", "alpha_ratio",
            "digit_ratio", "punct_ratio", "space_ratio", "upper_ratio"]


def punct_pct() -> Column:
    """Characters other than ASCII letters, digits and spaces, as a
    whole percentage (floor) of the text's length."""
    punct = F.length(F.regexp_replace("text", "[a-zA-Z0-9 ]", ""))
    return F.floor(punct * 100 / F.greatest(F.length("text"), F.lit(1)))


def quality_gate(pct: Column) -> list[Column]:
    """The heuristic quality gate over a ``punct_pct`` column, as the
    conjuncts a caller ANDs with its own: 50 to 5000 characters,
    under 10% punctuation."""
    return [F.length("text").between(50, 5000), pct < 10]


def curation_sample() -> Column:
    """The curation passes' deterministic 50% per-document sample."""
    return F.expr(MD5INT.format(
        x="concat('cur:', cast(doc_id as string))")) % 100 < 50


def text_features(df: DataFrame) -> DataFrame:
    """Append the 8 classifier features — one JVM projection, no
    python, no shuffle."""
    t = F.col("text")
    n = F.length(t).cast("double")
    safe_n = F.greatest(n, F.lit(1.0))

    def ratio(pattern: str):
        return (F.length(F.regexp_replace(t, pattern, "")) / safe_n)

    toks = F.expr(TOKENS.format(x="text"))
    return (df.withColumn("n_chars", n)
            .withColumn("n_tokens", F.size(toks).cast("double"))
            .withColumn("avg_token_len",
                        n / F.greatest(F.size(toks), F.lit(1))
                        .cast("double"))
            .withColumn("alpha_ratio", 1 - ratio("[A-Za-z]"))
            .withColumn("digit_ratio", 1 - ratio("[0-9]"))
            .withColumn("punct_ratio", 1 - ratio(r"[^\w\s]"))
            .withColumn("space_ratio", 1 - ratio(" "))
            .withColumn("upper_ratio", 1 - ratio("[A-Z]")))


# Gopher-style repetition gate thresholds (Rae et al. 2021, table A1
# family).  The char-fraction denominators follow the paper: fraction
# of DOCUMENT characters (length of text), not of summed gram
# characters.  top_2gram_frac 0.20 is the paper's top-2-gram value;
# dup_2gram_frac is our 2-gram adaptation of the paper's
# duplicate-5..10-gram family (0.15..0.10) re-tuned to 0.30 because
# 2-grams legitimately repeat far more often (fails ~3% of the
# synthetic corpus vs ~60% at the 5-gram threshold);
# dup_line_frac 0.30 is the paper's duplicate-line-fraction.
# Numerators count every occurrence's characters (the
# NeMo-Curator-style uncapped accounting), so a degenerate doc of one
# repeated token can exceed 1.0 — still monotone, still gated.
REPETITION_LIMITS = {"top_2gram_frac": 0.20, "dup_2gram_frac": 0.30,
                     "dup_token_frac": 0.65, "dup_line_frac": 0.30}


def _rep_fold(text: str | None) -> list[tuple[int, int]] | None:
    """The Gopher repetition fold of one document: the (numerator,
    denominator) of each REPETITION_LIMITS fraction, in its order, or
    None below 2 tokens (no 2-gram evidence either way).

    Lengths are in code points, as Spark's and DuckDB's ``length``.
    The top 2-gram is the most frequent one, ties going to the
    lexicographically smallest (the oracle's ORDER BY count DESC,
    gram ASC); python compares code points, which orders strings as
    their UTF-8 bytes do."""
    toks = tokens(text or "")
    if len(toks) < 2:
        return None
    lines = [ln for ln in text.split("\n") if ln]
    grams = Counter(map(" ".join, zip(toks, toks[1:])))
    top = max(grams.values())
    topg = min(g for g, n in grams.items() if n == top)
    dupch = sum(n * len(g) for g, n in grams.items() if n >= 2)
    return [(top * len(topg), len(text)), (dupch, len(text)),
            (len(toks) - len(set(toks)), len(toks)),
            (len(lines) - len(set(lines)), len(lines))]


def _rep_keep(fracs: list[tuple[int, int]] | None) -> bool:
    """The Gopher keep decision over ``_rep_fold``: every fraction
    within its limit; a document below 2 tokens is rejected (the
    oracle inner-joins on docs with >= 2 tokens)."""
    return fracs is not None and all(
        p / q <= limit for (p, q), limit in zip(fracs,
                                                REPETITION_LIMITS.values()))


def repetition_stats(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Per-document repetition fractions + the Gopher keep decision.

    (id, top_2gram_frac, dup_2gram_frac, dup_token_frac,
    dup_line_frac, keep) for documents with at least one 2-gram.
    One Arrow map stage runs ``_rep_fold`` once per document: no
    shuffle, and no gram row ever leaves its document (the relational
    formulation would shuffle one row per gram).  Each fraction is
    rounded to 6 decimals with ``ratio_round_sql``'s integer half-up
    arithmetic (not round() on the float quotient: a count like
    640 = 2^7*5 can land a fraction exactly on a 6-decimal midpoint
    that is not a representable double, where the engines would
    round differently)."""
    m = 10 ** 6

    def row(f):
        if f is None:
            return None
        return (*[((2 * p * m + q) // (2 * q)) / m for p, q in f],
                int(_rep_keep(f)))

    return python_pass(
        df, [text_col],
        [T.StructField(n, T.DoubleType()) for n in REPETITION_LIMITS]
        + [T.StructField("keep", T.LongType(), False)],
        lambda texts: [row(_rep_fold(t)) for t in texts], keep=[id_col])


def with_repetition_keep(df: DataFrame) -> DataFrame:
    """Append the boolean Gopher repetition gate as ``rep_keep`` — one
    Arrow map stage that passes every column through and runs
    ``_rep_fold`` once per document, so the curation passes compose
    it inline (no join, no second scan of the corpus).
    Decision-identical to repetition_stats' keep column, False below
    2 tokens (pytest-pinned)."""
    return python_pass(
        df, ["text"], [T.StructField("rep_keep", T.BooleanType(), False)],
        lambda texts: [(_rep_keep(_rep_fold(t)),) for t in texts])


def heuristic_label(df: DataFrame) -> DataFrame:
    """Binary quality label from the same heuristic family as the
    quality_score query: long enough, mostly alphabetic, not
    digit-heavy."""
    return df.withColumn(
        "label",
        ((F.col("n_chars") >= 50)
         & (F.col("alpha_ratio") >= 0.5)
         & (F.col("digit_ratio") <= 0.3)).cast("double"))


def hash_split(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Deterministic md5 90/10 train/test split on doc_id
    (reproducible across runs, engines, partitionings — rand() is
    none of those)."""
    h = MD5INT.format(x="concat('split:', cast(doc_id as string))")
    bucket = F.expr(f"pmod({h}, 100)")
    marked = df.withColumn("__b", bucket)
    return (marked.filter(F.col("__b") >= 10).drop("__b"),
            marked.filter(F.col("__b") < 10).drop("__b"))


def train_quality_classifier(docs: DataFrame) -> dict:
    """Train LR on heuristic-labeled features; returns the model plus
    held-out metrics.  At 100 TB this exact code runs unchanged: the
    feature projection is embarrassingly parallel and MLlib L-BFGS
    aggregates gradients tree-wise per iteration."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.evaluation import BinaryClassificationEvaluator
    from pyspark.ml.feature import VectorAssembler

    feats = heuristic_label(text_features(docs))
    train, test = hash_split(feats)
    asm = VectorAssembler(inputCols=FEATURES, outputCol="features")
    lr = LogisticRegression(maxIter=25, regParam=0.01,
                            standardization=True)
    model = lr.fit(asm.transform(train))
    # scoring serializes the model with its summary and session, which
    # Spark cannot serialize once an Observation ran (dedup.cap_audit):
    # score with a summary-free copy; the returned model keeps its own
    scorer = model.copy()
    scorer._java_obj.setSummary(scorer._java_obj.trainingSummary().empty())
    pred = scorer.transform(asm.transform(test))
    auc = BinaryClassificationEvaluator(
        metricName="areaUnderROC").evaluate(pred)
    acc = pred.filter(
        (F.col("prediction") == F.col("label"))).count() / max(
        pred.count(), 1)
    return {"model": model, "auc": auc, "accuracy": acc,
            "n_train": train.count(), "n_test": test.count()}
