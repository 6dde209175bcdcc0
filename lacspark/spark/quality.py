"""Per-document quality gates and quality-classifier training.

The heuristic gate (``punct_pct`` and ``quality_gate``) scores
documents in queries.quality_score and filters them, with the
``curation_sample`` and the Gopher repetition gate, in
queries.corpus_curation and queries.streaming_curation_counts.
Each rule is written once here; every gate is a projection.

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

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import MD5INT, TOKENS

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
  y.grams,
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

# (numerator, denominator) of each gate fraction over the names
# _rep_bind binds, and the keep predicate over them.  < 2 tokens
# means no 2-gram evidence either way; the gate rejects such a doc
# (the oracle inner-joins on docs with >= 2 tokens).
_REP_FRACS = {"top_2gram_frac": ("s.topch", "x.nc"),
              "dup_2gram_frac": ("s.dupch", "x.nc"),
              "dup_token_frac": ("y.nt - y.ndt", "y.nt"),
              "dup_line_frac": ("y.nl - y.ndl", "y.nl")}
_REP_KEEP = " and ".join(
    ["y.nt >= 2"] + [f"({p}) / {q} <= {REPETITION_LIMITS[name]}"
                     for name, (p, q) in _REP_FRACS.items()])


def _rep_bind(body: str, text_col: str = "text") -> str:
    """``body`` as one SQL expression evaluated once per document,
    with x.toks/x.lines/x.nc (tokens, non-empty lines, characters),
    then y.grams/y.nt/y.ndt/y.nl/y.ndl (sorted 2-grams, token and line
    counts, total and distinct), then s.topch/s.dupch/s.totch (the
    fold) in scope.

    Each stage is bound once through a single-element transform()
    lambda.  Separate projected columns would be re-inlined at every
    downstream reference once the optimizer collapses the projections
    into a pushed filter — higher-order functions are
    CodegenFallback, so no subexpression elimination rescues them and
    the split/sort/fold ran many times per row (the curation gate
    took 2.2 s at sf0.1 that way, 0.54 s bound once)."""
    return f"""
    transform(array(named_struct(
        'toks', {TOKENS.format(x=text_col)},
        'lines', filter(split({text_col}, '\\n'), l -> length(l) > 0),
        'nc', length({text_col}))),
      x -> transform(array(named_struct(
             'grams', case when size(x.toks) >= 2 then
                 array_sort(transform(sequence(1, size(x.toks) - 1),
                     i -> concat_ws(' ', slice(x.toks, i, 2))))
                 else array() end,
             'nt', size(x.toks), 'ndt', size(array_distinct(x.toks)),
             'nl', size(x.lines), 'ndl', size(array_distinct(x.lines)))),
        y -> transform(array({_REP_FOLD}), s -> {body})[0])[0])[0]"""


def repetition_stats(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Per-document repetition fractions + the Gopher keep decision.

    (id, top_2gram_frac, dup_2gram_frac, dup_token_frac,
    dup_line_frac, keep) for documents with at least one 2-gram.
    Everything is a projection over per-row arrays — at 100 TB this
    runs embarrassingly parallel with no shuffle at all.  Each
    document yields a one-row array (none below 2 tokens) that
    ``inline`` expands: a filter on a struct field would be pushed
    down and re-inline the fold."""
    from .dedup import ratio_round_sql
    from .tagger import ensure_parallelism

    # integer-ratio rounding (not F.round on the double quotient):
    # a totch like 640 = 2^7*5 can land a fraction exactly on a
    # 6-decimal midpoint that is not a representable double, where
    # Spark and DuckDB round differently
    fracs = ", ".join(f"'{name}', {ratio_round_sql(p, q, 6)}"
                      for name, (p, q) in _REP_FRACS.items())
    row = (f"if(y.nt >= 2, array(named_struct({fracs}, 'keep', "
           f"cast(coalesce({_REP_KEEP}, false) as bigint))), array())")
    return ensure_parallelism(df).select(
        id_col, F.inline(F.expr(_rep_bind(row, text_col))))


def with_repetition_keep(df: DataFrame) -> DataFrame:
    """Append the boolean Gopher repetition gate as ``rep_keep`` — a
    projection the curation passes compose inline (no join, no second
    scan of the corpus).  Decision-identical to repetition_stats'
    keep column, False below 2 tokens (pytest-pinned)."""
    from .tagger import ensure_parallelism

    return ensure_parallelism(df).withColumn(
        "rep_keep", F.expr(f"coalesce({_rep_bind(_REP_KEEP)}, false)"))


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
