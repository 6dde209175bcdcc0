"""Quality-classifier training for training-data pipelines.

The heuristic quality score (queries.quality_score) labels documents;
this module trains a distributed logistic-regression classifier on
cheap JVM-computed text features to REPLACE the heuristic at corpus
scale (the standard bootstrap: heuristic labels → learned classifier
→ filter).  Everything stays in Spark ML (JVM, data-parallel):
feature extraction is a projection, training is MLlib's L-BFGS.

Deterministic: features and labels are pure functions of the text,
the train/test split is the md5-hash split of `sample_stratified`,
and LogisticRegression with fixed params has no random init.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import MD5INT

FEATURES = ["n_chars", "n_tokens", "avg_token_len", "alpha_ratio",
            "digit_ratio", "punct_ratio", "space_ratio", "upper_ratio"]


def text_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append the 8 classifier features — one JVM projection, no
    python, no shuffle."""
    t = F.col(text_col)
    n = F.length(t).cast("double")
    safe_n = F.greatest(n, F.lit(1.0))

    def ratio(pattern: str):
        return (F.length(F.regexp_replace(t, pattern, "")) / safe_n)

    toks = F.filter(F.split(t, " "), lambda x: F.length(x) > 0)
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

# Fold over the SORTED 2-gram array: one pass closes each equal-run
# and carries (top run, duplicated-gram chars, total gram chars) in a
# struct accumulator.  Zero shuffle, zero UDF — the relational
# formulation (explode + two groupBys) would shuffle one row per
# gram; this never leaves the document row.  O(n log n) per doc from
# the array_sort.  Ties for the top gram resolve to the
# lexicographically smallest (strict > over the sorted array), which
# the oracle mirrors with ORDER BY count DESC, gram ASC.
_REP_FOLD = """
aggregate(
  __grams,
  named_struct('prev', '', 'run', cast(0 as bigint),
               'topc', cast(0 as bigint), 'topg', '',
               'dupch', cast(0 as bigint), 'totch', cast(0 as bigint)),
  (s, g) -> case when g = s.prev
    then named_struct('prev', s.prev, 'run', s.run + 1, 'topc', s.topc,
                      'topg', s.topg, 'dupch', s.dupch, 'totch', s.totch)
    else named_struct('prev', g, 'run', cast(1 as bigint),
      'topc', case when s.run > s.topc then s.run else s.topc end,
      'topg', case when s.run > s.topc then s.prev else s.topg end,
      'dupch', s.dupch + case when s.run >= 2
                  then s.run * length(s.prev) else cast(0 as bigint) end,
      'totch', s.totch + s.run * length(s.prev)) end,
  s -> named_struct(
      'topch', (case when s.run > s.topc then s.run else s.topc end)
          * length(case when s.run > s.topc then s.prev else s.topg end),
      'dupch', s.dupch + case when s.run >= 2
                  then s.run * length(s.prev) else cast(0 as bigint) end,
      'totch', s.totch + s.run * length(s.prev)))
"""


def _rep_projected(df: DataFrame, text_col: str = "text",
                   keep_cols: list[str] | None = None) -> DataFrame:
    """Append the repetition accumulators (__s, __nc, __nt, __ndt,
    __nl, __ndl) as pure projections.  Short docs (< 2 tokens) are kept
    with an empty gram array (sequence(1, 0) DESCENDS in Spark —
    guarded) so callers can compose this inline without a filter."""
    toks = F.filter(F.split(F.col(text_col), " "),
                    lambda x: F.length(x) > 0)
    lines = F.filter(F.split(F.col(text_col), "\n"),
                     lambda x: F.length(x) > 0)
    grams = ("case when size(__toks) >= 2 then "
             "array_sort(transform(sequence(1, size(__toks) - 1), "
             "i -> concat_ws(' ', slice(__toks, i, 2)))) "
             "else array() end")
    from .tagger import ensure_parallelism

    cols = keep_cols if keep_cols is not None else df.columns
    return (ensure_parallelism(df)
            .select(*cols, toks.alias("__toks"), lines.alias("__lines"),
                    F.length(text_col).alias("__nc"))
            .select(*cols, "__nc",
                    F.expr(grams).alias("__grams"),
                    F.size("__toks").alias("__nt"),
                    F.size(F.array_distinct("__toks")).alias("__ndt"),
                    F.size("__lines").alias("__nl"),
                    F.size(F.array_distinct("__lines")).alias("__ndl"))
            .select(*cols, "__nc", F.expr(_REP_FOLD).alias("__s"),
                    "__nt", "__ndt", "__nl", "__ndl"))


def _rep_fracs() -> dict:
    return {
        "top_2gram_frac": F.col("__s.topch") / F.col("__nc"),
        "dup_2gram_frac": F.col("__s.dupch") / F.col("__nc"),
        "dup_token_frac": (F.col("__nt") - F.col("__ndt")) / F.col("__nt"),
        "dup_line_frac": (F.col("__nl") - F.col("__ndl")) / F.col("__nl"),
    }


def _rep_keep_col():
    # < 2 tokens means no 2-gram evidence either way; the gate keeps
    # its historical (and oracle-mirrored: the relational side inner-
    # joins on docs with >= 2 tokens) behavior of rejecting them —
    # with the paper's doc-char denominator their fracs would be a
    # clean 0.0 instead of the null that used to reject them
    keep = F.col("__nt") >= 2
    for name, expr in _rep_fracs().items():
        keep = keep & (expr <= REPETITION_LIMITS[name])
    # a doc with no line yields a null frac → not kept
    return F.coalesce(keep, F.lit(False))


def repetition_stats(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Per-document repetition fractions + the Gopher keep decision.

    (id, top_2gram_frac, dup_2gram_frac, dup_token_frac,
    dup_line_frac, keep) for documents with at least one 2-gram.
    Everything is a projection over per-row arrays — at 100 TB this
    runs embarrassingly parallel with no shuffle at all."""
    from .dedup import ratio_round

    base = _rep_projected(df, text_col, keep_cols=[id_col]) \
        .filter(F.col("__nt") >= 2)
    # integer-ratio rounding (not F.round on the double quotient):
    # a totch like 640 = 2^7*5 can land a fraction exactly on a
    # 6-decimal midpoint that is not a representable double, where
    # Spark and DuckDB round differently
    ratios = {
        "top_2gram_frac": ("__s.topch", "__nc"),
        "dup_2gram_frac": ("__s.dupch", "__nc"),
        "dup_token_frac": ("__nt - __ndt", "__nt"),
        "dup_line_frac": ("__nl - __ndl", "__nl"),
    }
    return base.select(
        id_col,
        *[ratio_round(p, q, 6).alias(name)
          for name, (p, q) in ratios.items()],
        _rep_keep_col().cast("long").alias("keep"))


def _rep_keep_expr(text_col: str = "text") -> str:
    """The whole repetition gate as ONE self-contained expression.

    The multi-column form (_rep_projected + _rep_keep_col) re-inlines
    __toks/__grams/__s at every downstream reference once the
    optimizer collapses the projections into a pushed filter —
    higher-order functions are CodegenFallback, so no subexpression
    elimination rescues it and the split/sort/fold run many times per
    row (measured 2.2 s for the curation gate at sf0.1).  Binding
    each stage once via single-element transform() lambdas evaluates
    everything exactly once per row wherever the optimizer moves the
    predicate (0.54 s, identical decisions)."""
    L = REPETITION_LIMITS
    fold = _REP_FOLD.replace("__grams", "y.grams")
    return f"""
    coalesce(transform(array(named_struct(
        'toks', filter(split({text_col}, ' '), t -> length(t) > 0),
        'lines', filter(split({text_col}, '\\n'), l -> length(l) > 0),
        'nc', length({text_col}))),
      x -> transform(array(named_struct(
             'grams', case when size(x.toks) >= 2 then
                 array_sort(transform(sequence(1, size(x.toks) - 1),
                     i -> concat_ws(' ', slice(x.toks, i, 2))))
                 else array() end,
             'nt', size(x.toks), 'ndt', size(array_distinct(x.toks)),
             'nl', size(x.lines), 'ndl', size(array_distinct(x.lines)))),
        y -> transform(array({fold}),
          s -> y.nt >= 2
               and s.topch / x.nc <= {L['top_2gram_frac']}
               and s.dupch / x.nc <= {L['dup_2gram_frac']}
               and (y.nt - y.ndt) / y.nt <= {L['dup_token_frac']}
               and (y.nl - y.ndl) / y.nl <= {L['dup_line_frac']}
          )[0])[0])[0],
      false)
    """


def with_repetition_keep(df: DataFrame, text_col: str = "text",
                         out_col: str = "rep_keep") -> DataFrame:
    """Append the boolean Gopher repetition gate as a projection —
    the form corpus_curation composes inline (no join, no second
    scan of the corpus).  Decision-identical to
    repetition_stats' keep column (pytest-pinned)."""
    from .tagger import ensure_parallelism

    return ensure_parallelism(df).withColumn(
        out_col, F.expr(_rep_keep_expr(text_col)))


def heuristic_label(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Binary quality label from the same heuristic family as the
    quality_score query: long enough, mostly alphabetic, not
    digit-heavy."""
    return df.withColumn(
        "label",
        ((F.col("n_chars") >= 50)
         & (F.col("alpha_ratio") >= 0.5)
         & (F.col("digit_ratio") <= 0.3)).cast("double"))


def hash_split(df: DataFrame, id_col: str = "doc_id",
               test_pct: int = 10) -> tuple[DataFrame, DataFrame]:
    """Deterministic md5 train/test split (reproducible across runs,
    engines, partitionings — rand() is none of those)."""
    h = MD5INT.format(x=f"concat('split:', cast({id_col} as string))")
    bucket = F.expr(f"pmod({h}, 100)")
    marked = df.withColumn("__b", bucket)
    return (marked.filter(F.col("__b") >= test_pct).drop("__b"),
            marked.filter(F.col("__b") < test_pct).drop("__b"))


def train_quality_classifier(docs: DataFrame, text_col: str = "text",
                             id_col: str = "doc_id") -> dict:
    """Train LR on heuristic-labeled features; returns the model plus
    held-out metrics.  At 100 TB this exact code runs unchanged: the
    feature projection is embarrassingly parallel and MLlib L-BFGS
    aggregates gradients tree-wise per iteration."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.evaluation import BinaryClassificationEvaluator
    from pyspark.ml.feature import VectorAssembler

    feats = heuristic_label(text_features(docs, text_col), text_col)
    train, test = hash_split(feats, id_col)
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
