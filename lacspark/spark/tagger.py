"""Arrow-batched tagger operator: the engine as a Spark map stage.

One Arrow map stage (``_tag_core``) fuses the whole per-row pipeline
(SURVEY §2.2 K2 + K3/K4: chars → q2b → DAG-seg → ids → GRU-CRF →
decode → custom → merge → rank → mention/triple extraction) so data
never leaves the python worker between stages — the Spark
re-expression of the reference's single fused inference program
(models.py:71-175).  Documents (``tag_and_extract``, one segment per
row) and files (``kg.tag_files``, one segment per line) both run on
it and differ only in how a row's results become columns.

The engine is constructed once per python worker process and reused
across tasks (module-level singleton keyed by the custom-dict lines)
— ≙ the reference's per-thread predictor clone sharing weights
(c++/src/lac.cpp:64-79).  Model/dict resources travel with the
package zip (spark-submit --py-files); custom-dict entries travel in
the closure (small, driver-parsed).
"""

from __future__ import annotations

from functools import partial
from itertools import islice
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .session import python_pass

_WORKER_ENGINES: dict = {}

MENTION_FIELDS = T.StructType([
    T.StructField("word", T.StringType()),
    T.StructField("tag", T.StringType()),
    T.StructField("rank", T.IntegerType()),
    T.StructField("word_idx", T.IntegerType()),
    T.StructField("char_begin", T.IntegerType()),
])
TRIPLE_FIELDS = T.StructType([
    T.StructField("subj", T.StringType()),
    T.StructField("pred", T.StringType()),
    T.StructField("obj", T.StringType()),
    T.StructField("conf", T.DoubleType()),
    T.StructField("sal", T.IntegerType()),
])

TAG_OUTPUT_FIELDS = [
    T.StructField("words", T.ArrayType(T.StringType())),
    T.StructField("tags", T.ArrayType(T.StringType())),
    T.StructField("ranks", T.ArrayType(T.IntegerType())),
]
EXTRACT_OUTPUT_FIELDS = TAG_OUTPUT_FIELDS + [
    T.StructField("mentions", T.ArrayType(MENTION_FIELDS)),
    T.StructField("triples", T.ArrayType(TRIPLE_FIELDS)),
]


def _worker_engine(custom_lines: tuple[str, ...]):
    eng = _WORKER_ENGINES.get(custom_lines)
    if eng is None:
        from lacspark.engine import LacEngine

        eng = LacEngine()
        for line in custom_lines:
            eng.add_word(line)
        _WORKER_ENGINES[custom_lines] = eng
    return eng


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Guard against the small-file trap: a tiny parquet input arrives
    as 1-2 partitions and a CPU-bound UDF then runs on 1-2 cores.
    Round-robin repartition to one partition per core when the input
    has fewer partitions than cores.  No-op on inputs that are already
    wide (no shuffle added at real scale).

    One partition per core, not more: that already balances the work
    (50+ docs/partition at sf0.1), and each extra python task only
    adds about 10 ms of worker setup.

    The count comes from ``df.rdd``, which runs the shuffle stages of
    an adaptive plan; a caller whose input already has an exchange
    sizes it itself (``pipeline.run_pipeline``)."""
    if df.isStreaming:  # micro-batch sizing is the trigger's job
        return df
    cores = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < cores:
        return df.repartition(cores)
    return df


def _tag_core(df: DataFrame, text_col: str, mode: str,
              custom_lines: tuple[str, ...], new_fields: list,
              split: Callable[[str], list[str]],
              fill: Callable, extra_reads: tuple[str, ...] = ()
              ) -> DataFrame:
    """The one tag operator behind documents and files.

    Each row's text is cut into segments by ``split``; all segments
    of an Arrow batch go through ONE ``run_batch`` call (the row
    boundary is metadata, not a batch boundary).  ``fill(eng,
    results, *extra)`` then turns one row's list of results (and its
    values of ``extra_reads``) into that row's ``new_fields`` values.
    The stage runs on ``df``'s partitions: the caller sizes it.
    """
    custom_lines = tuple(custom_lines)

    def run(texts, *extra):
        eng = _worker_engine(custom_lines)
        segs = [split("" if t is None else str(t)) for t in texts]
        flat = iter(eng.run_batch([s for ss in segs for s in ss],
                                  mode=mode))
        per_row = [list(islice(flat, len(ss))) for ss in segs]
        return map(partial(fill, eng), per_row, *extra)

    return python_pass(df, [text_col, *extra_reads], new_fields, run)


def tag_and_extract(df: DataFrame, text_col: str = "text",
                    mode: str = "rank",
                    custom_lines: tuple[str, ...] = (),
                    with_extraction: bool = True) -> DataFrame:
    """Append words/tags/ranks (+ mentions/triples) columns.

    Keeps every input column (row identity preserved — empty texts
    yield empty arrays in place, models.py:73-101 semantics without
    any reordering).  A narrow input is widened to one partition per
    core (``ensure_parallelism``).
    """
    def fill(eng, results):
        (r,) = results
        row = (r.words, r.tags, r.ranks or [0] * len(r.words))
        return row + eng.extract(r) if with_extraction else row

    return _tag_core(ensure_parallelism(df), text_col, mode, custom_lines,
                     EXTRACT_OUTPUT_FIELDS if with_extraction
                     else TAG_OUTPUT_FIELDS, lambda text: [text], fill)


def explode_mentions(tagged: DataFrame, keys: list[str]) -> DataFrame:
    """K3: one row per entity mention, with position + salience
    (and ``sent_id`` when the rows are files)."""
    return tagged.select(*keys, F.inline("mentions"))


def explode_triples(tagged: DataFrame, keys: list[str]) -> DataFrame:
    """K4: one row per (subj, pred, obj, conf, sal), likewise."""
    return tagged.select(*keys, F.inline("triples"))
