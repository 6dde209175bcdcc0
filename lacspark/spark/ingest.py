"""Scan-boundary ingest helpers (O24: encoding config).

Spark strings are UTF-8; a corpus stored in another encoding decodes
once at the scan boundary.  Spark 4's builtin ``decode`` only accepts
a small charset whitelist, so anything else (GB18030, the reference's
other supported encoding — c++/include/lac.h:24-29) goes through a
Python pass (``session.python_pass``: Arrow binary in, one pass)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .session import python_pass

_SPARK_NATIVE = {"iso-8859-1", "us-ascii", "utf-16", "utf-16be",
                 "utf-16le", "utf-32", "utf-8"}


def decode_text(df: DataFrame, raw_col: str, out_col: str = "text",
                charset: str = "utf-8",
                errors: str = "replace") -> DataFrame:
    cs = charset.lower()
    if cs in _SPARK_NATIVE:
        return df.withColumn(out_col, F.decode(raw_col, charset))

    def run(raws: list) -> list[tuple]:
        return [(None if v is None else v.decode(charset, errors),)
                for v in raws]

    return python_pass(df, [raw_col],
                       [T.StructField(out_col, T.StringType())], run)
