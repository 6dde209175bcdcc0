"""Training-side operators: corpus readers and the chunk P/R/F1
metric.

* ``parse_tagged_line`` / ``parse_seg_line`` transcribe the
  reference's training readers (/root/reference/python/LAC/
  reader.py:86-101 ``word/tag`` lines → char-level IOB2;
  reader.py:192-203 space-segmented → ``-B/-I/-E/-S``).
* ``chunk_prf`` is the reference's chunk_eval metric
  (nets.py:174-180, 246-273) — the P/R ≥ 0.95 gate of the north rule
  — and ``chunk_prf_df`` the same counts as one full-outer join of
  gold and predicted chunk tables.

Training itself (O21: backprop through the whole Bi-GRU-CRF, Adam,
Spark data-parallel — the reference's nets.py:276-359) lives in
`lacspark.train_full`.
"""

from __future__ import annotations


# ---------------------------------------------------------------------------
# O20 — corpus readers
# ---------------------------------------------------------------------------

def parse_tagged_line(line: str) -> tuple[str, list[str]]:
    """``word/tag`` pieces → (text, char-level IOB2 labels).

    Malformed items (no '/', empty word or tag) invalidate the whole
    line (reader.py:95-97 returns empty)."""
    text_parts: list[str] = []
    labels: list[str] = []
    for item in line.strip().split():
        cut = item.rfind("/")
        word, tag = item[:cut], item[cut + 1:]
        if cut < 0 or not word or not tag:
            return "", []
        text_parts.append(word)
        labels.extend([tag + "-B"] + [tag + "-I"] * (len(word) - 1))
    return "".join(text_parts), labels


def parse_rank_line(line: str) -> tuple[str, list[str], list[int]]:
    """``word/tag/rank`` pieces → (text, char-level IOB2 labels,
    char-level importance 0-3, word rank replicated per char).  The
    supervision format for the rank head; the reference never defines
    one because its RankModel.train is an unimplemented stub
    (models.py:376-379 logs "To be continued" and returns).
    Malformed items invalidate the whole line, like the tag parser."""
    text_parts: list[str] = []
    labels: list[str] = []
    ranks: list[int] = []
    for item in line.strip().split():
        parts = item.rsplit("/", 2)
        if len(parts) != 3 or not all(parts):
            return "", [], []
        word, tag, rank = parts
        if not rank.isdigit() or not 0 <= int(rank) <= 3:
            return "", [], []
        text_parts.append(word)
        labels.extend([tag + "-B"] + [tag + "-I"] * (len(word) - 1))
        ranks.extend([int(rank)] * len(word))
    return "".join(text_parts), labels, ranks


def parse_seg_line(line: str) -> tuple[str, list[str]]:
    """Space-segmented text → (text, -B/-I/-E/-S labels)."""
    labels: list[str] = []
    words = line.strip().split()
    for w in words:
        if len(w) == 1:
            labels.append("-S")
        else:
            labels.extend(["-B"] + ["-I"] * (len(w) - 2) + ["-E"])
    return "".join(words), labels


def training_rows(spark, path: str, mode: str = "lac"):
    """spark.read.text + the parser → DataFrame(text, labels), one
    Python pass (``session.python_pass``); lines without labels are
    dropped."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from .spark.session import python_pass

    parse = parse_tagged_line if mode == "lac" else parse_seg_line

    def run(values: list) -> list[tuple | None]:
        return [(t, ls) if ls else None
                for t, ls in (parse(v or "") for v in values)]

    raw = spark.read.text(path).filter(F.length(F.trim("value")) > 0)
    return python_pass(raw, ["value"],
                       [T.StructField("text", T.StringType()),
                        T.StructField("labels", T.ArrayType(T.StringType()))],
                       run, keep=[])


# ---------------------------------------------------------------------------
# O22 — chunk P/R/F1 (the correctness gate metric)
# ---------------------------------------------------------------------------

def iob2_chunks(tags: list[str]) -> list[tuple[int, int, str]]:
    """Char-level IOB2 labels → (begin, end, base) chunks.

    Boundary rule matches the engine's merge (models.py:163-173): a
    chunk opens at ``-B``/``-S`` (or at ``O``, which itself emits no
    chunk); everything else continues the open chunk; the chunk's
    base is its first tag's base.  Identical rule in ``chunk_prf_df``."""
    chunks: list[tuple[int, int, str]] = []
    start, base = None, None
    for i, tag in enumerate(tags):
        boundary = tag == "O" or tag.endswith("B") or tag.endswith("S") \
            or start is None
        if boundary:
            if start is not None:
                chunks.append((start, i, base))
            if tag == "O":
                start, base = None, None
            else:
                start, base = i, tag[:-2]
    if start is not None:
        chunks.append((start, len(tags), base))
    return chunks


def _prf(tp: int, fp: int, fn: int) -> dict:
    prec = tp / (tp + fp) if tp + fp else 0.0
    rec = tp / (tp + fn) if tp + fn else 0.0
    f1 = 2 * prec * rec / (prec + rec) if prec + rec else 0.0
    return {"tp": tp, "fp": fp, "fn": fn,
            "precision": prec, "recall": rec, "f1": f1}


def chunk_prf(pairs: list[tuple[list[str], list[str]]]) -> dict:
    """[(gold_tags, pred_tags)] → {tp, fp, fn, precision, recall, f1}
    over (begin, end, base) chunks, micro-averaged."""
    tp = fp = fn = 0
    for gold, pred in pairs:
        g = set(iob2_chunks(gold))
        p = set(iob2_chunks(pred))
        tp += len(g & p)
        fp += len(p - g)
        fn += len(g - p)
    return _prf(tp, fp, fn)


def chunk_prf_df(gold_df, pred_df, keys: list[str]) -> dict:
    """Distributed chunk_eval: two DataFrames with char-level ``tags``
    arrays → the ``chunk_prf`` dict.  Chunks explode JVM-side; one
    full-outer join on (keys, begin, end, base) counts tp (both
    sides), fp (pred only) and fn (gold only) in one action — SURVEY
    §2.1 O22."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    def explode_chunks(df, side):
        # boundary flag → running chunk id → group to (begin,end,base)
        t = df.select(*keys, F.posexplode("tags").alias("pos", "tag"))
        t = t.withColumn("base", F.when(F.col("tag") == "O", F.lit(None))
                         .otherwise(F.expr("substring(tag, 1, length(tag) - 2)")))
        t = t.withColumn(
            "is_b", (F.col("tag").endswith("B") | F.col("tag").endswith("S")
                     | F.col("tag").eqNullSafe("O")).cast("int"))
        w = (Window.partitionBy(*keys).orderBy("pos")
             .rowsBetween(Window.unboundedPreceding, 0))
        t = t.withColumn("chunk_id", F.sum("is_b").over(w))
        return (t.filter(F.col("base").isNotNull())
                .groupBy(*keys, "chunk_id")
                .agg(F.min("pos").alias("begin"),
                     (F.max("pos") + 1).alias("end"),
                     F.min_by("base", "pos").alias("base"))
                .select(*keys, "begin", "end", "base",
                        F.lit(True).alias(side)))

    both = explode_chunks(gold_df, "__gold").join(
        explode_chunks(pred_df, "__pred"),
        keys + ["begin", "end", "base"], "full_outer")
    gold, pred = F.col("__gold").isNotNull(), F.col("__pred").isNotNull()
    counts = both.agg(F.count(F.when(gold & pred, 1)),
                      F.count(F.when(pred & ~gold, 1)),
                      F.count(F.when(gold & ~pred, 1))).first()
    return _prf(*counts)
