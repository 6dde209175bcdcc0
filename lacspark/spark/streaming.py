"""Structured Streaming front-end for the tagger (O1's REPL/stream
source re-expressed; SURVEY §2.1 streaming row).

``foreachBatch`` reuses the exact batch operators (tag_and_extract),
so streaming and batch share one code path; the checkpointLocation
gives exactly-once sink semantics per micro-batch.  A watermarked
windowed aggregate demonstrates late-data handling over the mention
stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .tagger import explode_mentions, tag_and_extract


def start_tagging_stream(stream_df: DataFrame, out_dir: str,
                         checkpoint_dir: str, text_col: str = "text",
                         mode: str = "rank", keys: list[str] | None = None):
    """Tag each micro-batch and append mentions to a parquet sink."""
    keys = keys or ["doc_id"]

    def process(batch_df: DataFrame, batch_id: int) -> None:
        tagged = tag_and_extract(batch_df, text_col, mode=mode)
        mentions = explode_mentions(tagged, keys) \
            .withColumn("batch_id", F.lit(batch_id))
        mentions.write.mode("append").parquet(out_dir)

    return (stream_df.writeStream
            .foreachBatch(process)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())


def streaming_dedup(stream_df: DataFrame, key_col: str,
                    text_col: str = "text",
                    timeout_minutes: int | None = 60,
                    max_state_fingerprints: int = 100_000) -> DataFrame:
    """Custom stateful operator: drop rows whose normalized-content
    fingerprint was already seen for the same key, across
    micro-batches — ``applyInPandasWithState`` keeps the seen-set per
    key in the state store.

    State is bounded two ways (a hot key must not grow the state
    store without limit at corpus scale):

    * TTL: when the ProcessingTimeTimeout fires for an idle key the
      state is REMOVED (``state.hasTimedOut`` handled — the timeout
      invocation carries no data and must not re-arm the timer);
    * size cap: at most ``max_state_fingerprints`` per key, evicting
      the OLDEST fingerprints FIFO (the stored array keeps insertion
      order).  Past the cap dedup degrades gracefully to
      approximate — a re-occurrence of an evicted fingerprint is
      emitted again — which is the right trade for a bounded store.

    TTL semantics vs bounded replays: with ProcessingTimeTimeout
    armed, a Trigger.AvailableNow run does NOT stop when the data is
    exhausted — MicroBatchExecution keeps scheduling no-data
    micro-batches to service the pending timers, so the query only
    terminates once every key's TTL has fired (observed: a 500-doc
    replay spinning ~770 empty batches toward the 60-minute mark).
    Pass ``timeout_minutes=None`` for bounded replays (no TTL, query
    terminates with the data — what the gated
    ``streaming_dedup_keeper`` does); keep the TTL for genuinely
    continuous streams, where the trigger never terminates anyway.

    Fingerprints are stored truncated to 16 hex chars (64 bits): at
    10^5 entries/key the in-store collision odds are ~3e-10 and the
    state row shrinks 2×.
    """
    import hashlib

    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = f"{key_col} string, {text_col} string, fingerprint string"
    state_schema = "seen array<string>"

    def dedup(key, pdf_iter, state):
        if state.hasTimedOut:
            # idle-key TTL: drop the seen-set, emit nothing, do NOT
            # re-arm the timer (re-arming would keep state forever)
            state.remove()
            yield pd.DataFrame(columns=[key_col, text_col, "fingerprint"])
            return
        ordered = list(state.get[0]) if state.exists else []
        seen = set(ordered)
        rows = []
        for pdf in pdf_iter:
            for text in pdf[text_col]:
                text = "" if text is None else str(text)
                fp = hashlib.md5(" ".join(text.lower().split())
                                 .encode()).hexdigest()
                short = fp[:16]
                if short not in seen:
                    seen.add(short)
                    ordered.append(short)
                    rows.append((key[0], text, fp))
        if len(ordered) > max_state_fingerprints:
            ordered = ordered[-max_state_fingerprints:]
        state.update((ordered,))
        if timeout_minutes:
            state.setTimeoutDuration(timeout_minutes * 60 * 1000)
        yield pd.DataFrame(rows,
                           columns=[key_col, text_col, "fingerprint"])

    timeout_conf = (GroupStateTimeout.ProcessingTimeTimeout
                    if timeout_minutes else GroupStateTimeout.NoTimeout)
    return (stream_df.groupBy(key_col).applyInPandasWithState(
        dedup, out_schema, state_schema, "append", timeout_conf))


def windowed_mention_counts(stream_df: DataFrame, text_col: str = "text",
                            ts_col: str = "ts",
                            window: str = "1 minute",
                            watermark: str = "2 minutes") -> DataFrame:
    """Watermarked tumbling-window mention counts — the stateful-agg
    shape (late rows beyond the watermark are dropped by Spark's
    state store, not by us)."""
    tagged = tag_and_extract(stream_df, text_col, mode="lac")
    mentions = tagged.select(ts_col, F.explode("mentions").alias("m"))
    return (mentions
            .withWatermark(ts_col, watermark)
            .groupBy(F.window(ts_col, window).alias("win"),
                     F.col("m.tag").alias("tag"))
            .agg(F.count(F.lit(1)).alias("n_mentions")))
