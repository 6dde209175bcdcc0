"""applyInPandasWithState streaming dedup — cross-micro-batch state."""

from __future__ import annotations

from lacspark.spark.streaming import streaming_dedup


def _await_drained(q, total_rows, timeout=180):
    """Wait until the availableNow run has drained its DATA batches.

    With ProcessingTimeTimeout armed the query never terminates on its
    own (pending TTL timers keep no-data micro-batches coming —
    streaming_dedup docstring), so waiting the full timeout wastes
    wall-clock: return once ALL ``total_rows`` input rows have been
    processed AND the newest micro-batch was empty (the trailing empty
    batch proves the last data batch committed to the sink).
    """
    import time

    t0 = time.time()
    while time.time() - t0 < timeout:
        if q.awaitTermination(2):
            return
        prog = q.recentProgress
        if (prog and sum(p["numInputRows"] for p in prog) >= total_rows
                and prog[-1]["numInputRows"] == 0):
            return
    # fail LOUD: falling through would let the caller stop a
    # mid-flight query and assert on a partial sink (confusing data
    # failure, or a false pass).  Note recentProgress is a ~100-entry
    # ring buffer — with vastly more no-data batches than that before
    # drain, the sum undercounts and this raises; that scenario is
    # itself the timer-zombie regression we want surfaced.
    q.stop()
    raise TimeoutError(
        f"stream did not drain {total_rows} rows in {timeout}s "
        f"(recentProgress: {[p['numInputRows'] for p in q.recentProgress]})")


def test_streaming_dedup_across_microbatches(spark, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    # batch 1: two sources, one dup inside the batch
    spark.createDataFrame(
        [("a", "hello world"), ("a", "HELLO   world"), ("b", "hello world")],
        "source string, text string").write.parquet(src + "/b1")
    # batch 2 (separate file → separate micro-batch): repeats + fresh
    spark.createDataFrame(
        [("a", "hello world"), ("a", "fresh row"), ("b", "also fresh")],
        "source string, text string").write.parquet(src + "/b2")

    stream = (spark.readStream
              .schema("source string, text string")
              .option("maxFilesPerTrigger", 1)
              .parquet(src + "/*"))
    deduped = streaming_dedup(stream, "source", "text")
    q = (deduped.writeStream.format("parquet")
         .option("path", out).option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    _await_drained(q, total_rows=6)
    q.stop()  # kill the TTL-timer zombie; data batches are committed

    rows = [(r.source, r.text, r.fingerprint)
            for r in spark.read.parquet(out).collect()]
    # exactly one representative per (source, fingerprint): the
    # "hello world"/"HELLO   world" pair collapses within batch 1 and
    # the batch-2 repeat is dropped via cross-micro-batch state
    a_fps = [fp for s, _, fp in rows if s == "a"]
    assert len(a_fps) == 2 and len(set(a_fps)) == 2
    a_texts = {" ".join(t.lower().split()) for s, t, _ in rows if s == "a"}
    assert a_texts == {"hello world", "fresh row"}
    b_texts = {" ".join(t.lower().split()) for s, t, _ in rows if s == "b"}
    assert b_texts == {"hello world", "also fresh"}


def test_streaming_dedup_state_is_bounded(spark, tmp_path):
    """Per-key state is capped FIFO: feeding more distinct rows than
    the cap keeps only the newest fingerprints, so an evicted (oldest)
    fingerprint re-emits while a retained one is still deduped —
    bounded state store, graceful approximate dedup past the cap."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    batch1 = [("k", f"row number {i}") for i in range(5)]
    spark.createDataFrame(batch1, "source string, text string") \
        .coalesce(1).write.parquet(src + "/b1")
    # row 0 was evicted (cap 3 keeps rows 2,3,4); row 4 was retained
    spark.createDataFrame([("k", "row number 0"), ("k", "row number 4")],
                          "source string, text string") \
        .coalesce(1).write.parquet(src + "/b2")

    stream = (spark.readStream
              .schema("source string, text string")
              .option("maxFilesPerTrigger", 1)
              .parquet(src + "/*"))
    deduped = streaming_dedup(stream, "source", "text",
                              max_state_fingerprints=3)
    q = (deduped.writeStream.format("parquet")
         .option("path", out).option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    _await_drained(q, total_rows=7)
    q.stop()  # same zombie-timer rationale as above

    texts = [r.text for r in spark.read.parquet(out).collect()]
    assert sorted(texts).count("row number 0") == 2  # evicted → re-emitted
    assert sorted(texts).count("row number 4") == 1  # retained → deduped
    assert len(texts) == 6  # 5 from batch 1 + the one re-emission


def test_streaming_dedup_no_ttl_terminates(spark, tmp_path):
    """Regression pin for the timer-zombie bug: with TTL disabled
    (timeout_minutes=None -> NoTimeout) an availableNow replay must
    TERMINATE once the data is drained — no pending processing-time
    timers, no no-data micro-batch loop (with TTL armed the same
    query spins ~770 empty batches toward the 60-minute mark)."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(
        [("a", "hello world"), ("a", "HELLO   world"), ("b", "x")],
        "source string, text string").write.parquet(src + "/b1")

    stream = (spark.readStream
              .schema("source string, text string")
              .parquet(src + "/*"))
    deduped = streaming_dedup(stream, "source", "text",
                              timeout_minutes=None)
    q = (deduped.writeStream.format("parquet")
         .option("path", out).option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    terminated = q.awaitTermination(120)
    assert terminated, "availableNow query with NoTimeout must stop"
    texts = {" ".join(r.text.lower().split())
             for r in spark.read.parquet(out).collect()}
    assert texts == {"hello world", "x"}


def test_streaming_query_leaves_caller_conf_alone(spark, sf_dir,
                                                  monkeypatch):
    """A streaming gate runs its 8-partition state store in a child
    session: the caller's session, set to 32 shuffle partitions, must
    read 32 throughout the query (a second thread polls it), while
    the query's state operator reports 8."""
    import json
    import threading

    from pyspark.sql.streaming.query import StreamingQuery

    from lacspark.queries import SPARK_QUERIES

    caller = spark.newSession()
    caller.conf.set("spark.sql.shuffle.partitions", "32")
    progress = []
    wait = StreamingQuery.awaitTermination

    def wait_and_record(self, *args, **kwargs):
        out = wait(self, *args, **kwargs)
        progress.append(json.loads(self.lastProgress.json))
        return out

    monkeypatch.setattr(StreamingQuery, "awaitTermination",
                        wait_and_record)
    seen = set()
    done = threading.Event()

    def poll():
        while not done.is_set():
            seen.add(caller.conf.get("spark.sql.shuffle.partitions"))

    poller = threading.Thread(target=poll)
    poller.start()
    try:
        rows = SPARK_QUERIES["streaming_tumbling_minute"](
            caller, sf_dir).collect()
    finally:
        done.set()
        poller.join(timeout=60)
    assert not poller.is_alive()
    assert rows
    assert seen == {"32"}
    assert [op["numShufflePartitions"]
            for op in progress[-1]["stateOperators"]] == [8]


def _manager_class(jvm, jsession, path: str) -> str:
    ckpt = jvm.org.apache.spark.sql.execution.streaming.checkpointing
    return ckpt.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(path),
        jsession.sessionState().newHadoopConf()).getClass().getSimpleName()


def test_gate_checkpoints_go_through_filesystem(spark, sf_dir, tmp_path,
                                                monkeypatch):
    """The gates' child session writes its checkpoints through
    Hadoop's FileSystem API, which forks no ``readlink`` per file;
    the caller's session keeps Spark's default (FileContext)."""
    from pyspark.sql.streaming.query import StreamingQuery

    from lacspark.queries import SPARK_QUERIES

    started = []  # the JVM session that starts each gate's stream
    wait = StreamingQuery.awaitTermination

    def wait_and_record(self, *args, **kwargs):
        started.append(self._jsq.streamingQuery().sparkSession())
        return wait(self, *args, **kwargs)

    monkeypatch.setattr(StreamingQuery, "awaitTermination",
                        wait_and_record)
    caller = spark.newSession()
    assert SPARK_QUERIES["streaming_curation_counts"](
        caller, sf_dir).collect()
    (child,) = started
    path = str(tmp_path / "ckpt")
    assert _manager_class(spark._jvm, child, path) == \
        "FileSystemBasedCheckpointFileManager"
    assert _manager_class(spark._jvm, caller._jsparkSession, path) == \
        "FileContextBasedCheckpointFileManager"


def _listener_buses(spark) -> int:
    return sum(l.getClass().getSimpleName() == "StreamingQueryListenerBus"
               for l in spark._jsc.sc().listenerBus().listeners())


def test_gates_leave_no_listener_bus(spark, sf_dir):
    """Each stream's session clone adds a listener bus to the
    SparkContext; a gate removes it once its stream has terminated,
    so the count stays flat over repeated calls."""
    from lacspark.queries import SPARK_QUERIES

    caller = spark.newSession()
    gate = SPARK_QUERIES["streaming_tumbling_minute"]
    assert gate(caller, sf_dir).count() == 1000  # starts the child
    before = _listener_buses(spark)
    for _ in range(5):
        gate(caller, sf_dir).count()
    assert _listener_buses(spark) == before


def test_concurrent_gates_match_oracle_and_leave_no_bus(spark, sf_dir):
    """Two threads run different gates at once on one caller session
    (one shared child): each returns its oracle's rows, and neither
    removes the other's bus nor leaves its own."""
    import threading

    import duckdb

    from lacspark.queries import ORACLE_SQL, SPARK_QUERIES
    from tests.test_driver_contract import TABLES, value_hash

    names = ["streaming_tumbling_minute", "streaming_dedup_keeper"]
    caller = spark.newSession()
    SPARK_QUERIES[names[0]](caller, sf_dir).count()  # starts the child
    before = _listener_buses(spark)
    got, errors = {}, []

    def run(name):
        try:
            df = SPARK_QUERIES[name](caller, sf_dir)
            got[name] = value_hash([tuple(r) for r in df.collect()],
                                   [c.lower() for c in df.columns])
        except Exception as e:  # reported by the main thread
            errors.append((name, e))

    threads = [threading.Thread(target=run, args=(n,)) for n in names]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"create view {t} as select * from "
                    f"'{sf_dir}/{t}.parquet'")
    for name in names:
        cur = con.execute(ORACLE_SQL[name])
        assert got[name] == value_hash(
            cur.fetchall(), [c[0].lower() for c in cur.description]), name
    assert _listener_buses(spark) == before


def test_gates_leave_no_sink_view(spark, sf_dir):
    """A gate drops its memory sink's temporary view from the child
    catalog: after 5 calls no ``stream_*`` view is left, and each
    returned frame, read after all 5 calls, still holds its rows."""
    import duckdb

    from lacspark.queries import ORACLE_SQL, SPARK_QUERIES
    from tests.test_driver_contract import value_hash

    name = "streaming_tumbling_minute"
    caller = spark.newSession()
    frames = [SPARK_QUERIES[name](caller, sf_dir) for _ in range(5)]
    child = frames[0].sparkSession
    assert not [t.name for t in child.catalog.listTables()
                if t.name.startswith("stream_")]
    con = duckdb.connect()
    con.execute(f"create view events as select * from "
                f"'{sf_dir}/events.parquet'")
    cur = con.execute(ORACLE_SQL[name])
    want = value_hash(cur.fetchall(), [c[0].lower() for c in cur.description])
    for df in frames:
        assert value_hash([tuple(r) for r in df.collect()],
                          [c.lower() for c in df.columns]) == want
