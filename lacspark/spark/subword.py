"""Spark surface of the deterministic subword tokenizer: one Python
pass (``session.python_pass``) appending (n_subwords, n_unk) as one
struct column.  The tokenizer is a per-worker singleton
(lacspark.subword.default_tokenizer) loaded from the packaged vocab
fixture, so each python worker pays the vocab load once and then
streams Arrow batches — the same execution shape as the GRU-CRF
tagger pass (tagger.py), minus the model.

Scale posture: pure map — no shuffle, no state, embarrassingly
parallel at any corpus size; the vocab ships inside the --py-files
package zip like the LAC dictionaries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .session import python_pass

_SUBWORD_FIELD = T.StructField("__sw", T.StructType([
    T.StructField("n_subwords", T.LongType()),
    T.StructField("n_unk", T.LongType())]))


def _subword_counts(texts: list) -> list[tuple]:
    from lacspark.subword import default_tokenizer

    tok = default_tokenizer()
    return [(tok.counts(t if t is not None else ""),) for t in texts]


def with_subword_counts(df: DataFrame) -> DataFrame:
    """Append the (n_subwords, n_unk) struct of ``text`` as ``__sw`` —
    callers expand the fields they need."""
    from .tagger import ensure_parallelism

    return python_pass(ensure_parallelism(df), ["text"], [_SUBWORD_FIELD],
                       _subword_counts)
