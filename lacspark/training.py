"""Training-side operators: corpus readers, the chunk P/R/F1 metric,
and a minimal incremental CRF trainer.

* ``parse_tagged_line`` / ``parse_seg_line`` transcribe the
  reference's training readers (/root/reference/python/LAC/
  reader.py:86-101 ``word/tag`` lines → char-level IOB2;
  reader.py:192-203 space-segmented → ``-B/-I/-E/-S``).
* ``chunk_prf`` is the reference's chunk_eval metric
  (nets.py:174-180, 246-273) as a DataFrame op — the P/R ≥ 0.95 gate
  of the north rule is computed with exactly this join.
* ``crf_fit_transitions`` is the incremental-training path (O21,
  models.py:177-210): full CRF NLL gradient via forward-backward on
  the transition/start/stop parameters, plus (``fit_emissions=True``)
  the linear emission head fc_w/fc_b — enough to adapt both the
  decoder and the label scores to new annotation, deterministic, no
  Paddle.  The recurrent stack stays frozen HERE; full-network
  training (backprop through the Bi-GRU stack + embeddings, Adam,
  Spark data-parallel — the reference's nets.py:276-359) lives in
  `lacspark.train_full`.
"""

from __future__ import annotations

import numpy as np


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
    """spark.read.text + the parser → DataFrame(text, labels).
    Arrow-batched (mapInPandas), no per-row python UDF."""
    from typing import Iterator

    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    parse = parse_tagged_line if mode == "lac" else parse_seg_line
    schema = T.StructType([T.StructField("text", T.StringType()),
                           T.StructField("labels",
                                         T.ArrayType(T.StringType()))])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            parsed = [parse(v or "") for v in pdf["value"]]
            keep = [(t, ls) for t, ls in parsed if ls]
            yield pd.DataFrame(keep, columns=["text", "labels"])

    raw = spark.read.text(path).filter(F.length(F.trim("value")) > 0)
    return raw.mapInPandas(run, schema=schema)


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


def chunk_prf(pairs: list[tuple[list[str], list[str]]]) -> dict:
    """[(gold_tags, pred_tags)] → {precision, recall, f1} over
    (begin, end, base) chunks, micro-averaged."""
    tp = fp = fn = 0
    for gold, pred in pairs:
        g = set(iob2_chunks(gold))
        p = set(iob2_chunks(pred))
        tp += len(g & p)
        fp += len(p - g)
        fn += len(g - p)
    prec = tp / (tp + fp) if tp + fp else 0.0
    rec = tp / (tp + fn) if tp + fn else 0.0
    f1 = 2 * prec * rec / (prec + rec) if prec + rec else 0.0
    return {"tp": tp, "fp": fp, "fn": fn,
            "precision": prec, "recall": rec, "f1": f1}


def chunk_prf_df(gold_df, pred_df, keys: list[str]):
    """Distributed chunk_eval: two DataFrames with char-level ``tags``
    arrays → single-row (tp, fp, fn, precision, recall, f1).
    Chunks explode JVM-side; the metric is one inner join + two
    anti-joins on (keys, begin, end, base) — SURVEY §2.1 O22."""
    from pyspark.sql import functions as F

    def explode_chunks(df, name):
        # boundary flag → running chunk id → group to (begin,end,base)
        t = df.select(*keys, F.posexplode("tags").alias("pos", "tag"))
        t = t.withColumn("base", F.when(F.col("tag") == "O", F.lit(None))
                         .otherwise(F.expr("substring(tag, 1, length(tag) - 2)")))
        t = t.withColumn(
            "is_b", (F.col("tag").endswith("B") | F.col("tag").endswith("S")
                     | F.col("tag").eqNullSafe("O")).cast("int"))
        from pyspark.sql.window import Window
        w = (Window.partitionBy(*keys).orderBy("pos")
             .rowsBetween(Window.unboundedPreceding, 0))
        t = t.withColumn("chunk_id", F.sum("is_b").over(w))
        return (t.filter(F.col("base").isNotNull())
                .groupBy(*keys, "chunk_id")
                .agg(F.min("pos").alias("begin"),
                     (F.max("pos") + 1).alias("end"),
                     F.min_by("base", "pos").alias("base"))
                .drop("chunk_id"))

    g = explode_chunks(gold_df, "gold")
    p = explode_chunks(pred_df, "pred")
    on = keys + ["begin", "end", "base"]
    tp = p.join(g, on).count()
    fp = p.join(g, on, "left_anti").count()
    fn = g.join(p, on, "left_anti").count()
    prec = tp / (tp + fp) if tp + fp else 0.0
    rec = tp / (tp + fn) if tp + fn else 0.0
    f1 = 2 * prec * rec / (prec + rec) if prec + rec else 0.0
    return {"tp": tp, "fp": fp, "fn": fn,
            "precision": prec, "recall": rec, "f1": f1}


# ---------------------------------------------------------------------------
# O21 — incremental CRF training (transitions; emissions frozen)
# ---------------------------------------------------------------------------

def _log_sum_exp(a: np.ndarray, axis: int) -> np.ndarray:
    m = a.max(axis=axis, keepdims=True)
    return (m + np.log(np.exp(a - m).sum(axis=axis, keepdims=True))) \
        .squeeze(axis)


def crf_fit_transitions(net, id_seqs: list[np.ndarray],
                        label_seqs: list[np.ndarray],
                        lr: float = 0.1, epochs: int = 10,
                        fit_emissions: bool = False) -> list[float]:
    """Full-batch gradient descent on the CRF NLL w.r.t.
    (crf_trans, crf_start, crf_stop) and — with
    ``fit_emissions=True`` — the emission FC layer (fc_w, fc_b); the
    recurrent stack and embeddings stay frozen (the reference trains
    the full stack with Adam, nets.py:276-359; transitions + the
    linear emission head is the slice that stays deterministic and
    Paddle-free here).

    Forward-backward in log space; deterministic (no shuffling, fixed
    lr).  Returns the per-epoch NLL trace (must decrease).  After
    fitting, ``net`` decodes with the updated weights — the
    incremental-training hot-reload of models.py:209."""
    padded, lens = net._pad([np.asarray(s, dtype=np.int64)
                             for s in id_seqs])
    hidden_all = net._hidden(padded, lens)  # [B, T, 2H], frozen
    h_list = [hidden_all[k, : len(s)].astype(np.float64)
              for k, s in enumerate(id_seqs)]

    nll_trace = []
    for _ in range(epochs):
        g_trans = np.zeros_like(net.w["crf_trans"])
        g_start = np.zeros_like(net.w["crf_start"])
        g_stop = np.zeros_like(net.w["crf_stop"])
        g_fc_w = np.zeros(net.w["fc_w"].shape, dtype=np.float64)
        g_fc_b = np.zeros(net.w["fc_b"].shape, dtype=np.float64)
        total_nll = 0.0
        trans = net.w["crf_trans"].astype(np.float64)
        fc_w = net.w["fc_w"].astype(np.float64)
        fc_b = net.w["fc_b"].astype(np.float64)
        for h, labels in zip(h_list, label_seqs):
            e = h @ fc_w + fc_b  # emissions from the current FC
            t, n = e.shape
            # forward
            alpha = np.empty((t, n))
            alpha[0] = net.w["crf_start"] + e[0]
            for i in range(1, t):
                alpha[i] = e[i] + _log_sum_exp(
                    alpha[i - 1][:, None] + trans, axis=0)
            logz = _log_sum_exp(alpha[-1] + net.w["crf_stop"], axis=0)
            # backward
            beta = np.empty((t, n))
            beta[-1] = net.w["crf_stop"]
            for i in range(t - 2, -1, -1):
                beta[i] = _log_sum_exp(
                    trans + (e[i + 1] + beta[i + 1])[None, :], axis=1)
            # marginals − observed
            p0 = np.exp(alpha[0] + beta[0] - logz)
            g_start += p0
            g_start[labels[0]] -= 1
            pT = np.exp(alpha[-1] + net.w["crf_stop"] - logz)
            g_stop += pT
            g_stop[labels[-1]] -= 1
            for i in range(1, t):
                m = (alpha[i - 1][:, None] + trans
                     + (e[i] + beta[i])[None, :]) - logz
                g_trans += np.exp(m)
                g_trans[labels[i - 1], labels[i]] -= 1
            if fit_emissions:
                # dNLL/de[i,j] = P(y_i=j | x) − 1[labels_i=j]; the FC
                # is linear, so g_fc_w = hᵀ dE, g_fc_b = Σ_i dE[i]
                node_p = np.exp(alpha + beta - logz)  # [t, n]
                node_p[np.arange(t), labels] -= 1.0
                g_fc_w += h.T @ node_p
                g_fc_b += node_p.sum(axis=0)
            # observed path score
            score = net.w["crf_start"][labels[0]] + e[0, labels[0]]
            for i in range(1, t):
                score += trans[labels[i - 1], labels[i]] + e[i, labels[i]]
            score += net.w["crf_stop"][labels[-1]]
            total_nll += float(logz - score)
        scale = lr / max(len(h_list), 1)
        net.w["crf_trans"] -= (scale * g_trans).astype(np.float32)
        net.w["crf_start"] -= (scale * g_start).astype(np.float32)
        net.w["crf_stop"] -= (scale * g_stop).astype(np.float32)
        if fit_emissions:
            net.w["fc_w"] = (net.w["fc_w"].astype(np.float64)
                             - scale * g_fc_w).astype(np.float32)
            net.w["fc_b"] = (net.w["fc_b"].astype(np.float64)
                             - scale * g_fc_b).astype(np.float32)
        net.refresh_crf()  # keep the constrained decoder in sync
        nll_trace.append(total_nll / max(len(h_list), 1))
    return nll_trace
