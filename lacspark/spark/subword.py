"""Spark surface of the deterministic subword tokenizer: an
Arrow-batched scalar pandas UDF appending (n_subwords, n_unk) as one
struct column.  The tokenizer is a per-worker singleton
(lacspark.subword.default_tokenizer) loaded from the packaged vocab
fixture, so each python worker pays the vocab load once and then
streams Arrow batches — the same execution shape as the GRU-CRF
tagger UDF (tagger.py), minus the model.

Scale posture: pure map — no shuffle, no state, embarrassingly
parallel at any corpus size; the vocab ships inside the --py-files
package zip like the LAC dictionaries.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SUBWORD_SCHEMA = "n_subwords long, n_unk long"


@F.pandas_udf(_SUBWORD_SCHEMA)
def _subword_counts_udf(texts: pd.Series) -> pd.DataFrame:
    from lacspark.subword import default_tokenizer

    tok = default_tokenizer()
    pairs = [tok.counts(t if t is not None else "") for t in texts]
    return pd.DataFrame(pairs, columns=["n_subwords", "n_unk"])


def with_subword_counts(df: DataFrame) -> DataFrame:
    """Append the (n_subwords, n_unk) struct of ``text`` as ``__sw`` —
    composes as a projection; callers expand the fields they need."""
    from .tagger import ensure_parallelism

    return ensure_parallelism(df).withColumn(
        "__sw", _subword_counts_udf(F.col("text")))
