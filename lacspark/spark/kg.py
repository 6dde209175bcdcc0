"""File-level KG extraction over the repos_files corpus.

Input shape (BASELINE input_hint): ``repos_files(repo, path, commit,
lang, content)``.  ``tag_files`` is the tagger's one tag core with
each file's lines as its segments (K1): every line of an Arrow batch
goes through one engine call, and mentions + triples (K3/K4) carry
the line's ``sent_id``.  The per-row sha256 invariant is checked
*inside the pass*: the engine guarantees ``''.join(words) == line``
per line, and the reassembled ``'\\n'.join(lines)`` is hashed and
compared against ``sha2(content, 256)`` computed JVM-side — no extra
shuffle for the integrity gate (SURVEY §2.2 K1's regroup-check,
optimized away).  ``tagger.explode_mentions``/``explode_triples``
turn the output into one row per mention/triple.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .tagger import MENTION_FIELDS, TRIPLE_FIELDS, _tag_core

FILE_KEYS = ["repo", "path", "commit", "lang"]

SENT_MENTION_FIELDS = T.StructType(
    [T.StructField("sent_id", T.IntegerType())] + list(MENTION_FIELDS.fields))
SENT_TRIPLE_FIELDS = T.StructType(
    [T.StructField("sent_id", T.IntegerType())] + list(TRIPLE_FIELDS.fields))

FILE_OUTPUT_FIELDS = [
    T.StructField("n_lines", T.IntegerType()),
    T.StructField("n_tokens", T.IntegerType()),
    T.StructField("sha_ok", T.BooleanType()),
    T.StructField("mentions", T.ArrayType(SENT_MENTION_FIELDS)),
    T.StructField("triples", T.ArrayType(SENT_TRIPLE_FIELDS)),
]


def tag_files(df: DataFrame, mode: str = "rank",
              custom_lines: tuple[str, ...] = ()) -> DataFrame:
    """K1+K2+K3+K4 fused over whole-file rows.

    Requires ``content_sha256`` (add with ``F.sha2(content, 256)`` at
    scan time so the hash of the *source bytes* is fixed before any
    python touches the row).  Runs on ``df``'s partitions: the KG job
    sizes them (``pipeline.run_pipeline``).
    """
    def fill(eng, rows, sha):
        rebuilt = "\n".join("".join(r.words) for r in rows)
        mentions, triples = [], []
        for sent_id, r in enumerate(rows):
            m, t3 = eng.extract(r)
            mentions.extend((sent_id, *x) for x in m)
            triples.extend((sent_id, *x) for x in t3)
        return (len(rows), sum(len(r.words) for r in rows),
                hashlib.sha256(rebuilt.encode("utf-8")).hexdigest() == sha,
                mentions, triples)

    return _tag_core(df, "content", mode, custom_lines, FILE_OUTPUT_FIELDS,
                     lambda content: content.split("\n"), fill,
                     ("content_sha256",))


def mention_salience_topk(mentions: DataFrame, keys: list[str],
                          k: int = 10) -> DataFrame:
    """K5: per-document top-k mentions by rank then frequency
    (LAC word-importance as mention salience)."""
    from pyspark.sql.window import Window

    agg = (mentions.groupBy(*keys, "word")
           .agg(F.max("rank").alias("max_rank"),
                F.count(F.lit(1)).alias("freq")))
    w = Window.partitionBy(*keys).orderBy(
        F.desc("max_rank"), F.desc("freq"), F.asc("word"))
    return (agg.withColumn("salience_rank", F.row_number().over(w))
            .filter(F.col("salience_rank") <= k))
