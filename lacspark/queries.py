"""Driver-contract query registry: Spark callable + DuckDB oracle SQL
side by side for every SQL-expressible operator (SURVEY.md §2), plus
rows-only entries for the UDF-backed ones (tagger, KG extraction).

Design rules keeping the two engines hash-identical:
* every computed column aliased the same on both sides;
* doubles always rounded and cast to double explicitly;
* deterministic hashes only via md5 (identical in both engines;
  int64 form = first 15 hex digits parsed base-16);
* token split on single space with empties filtered on both sides
  (``spark.dedup.TOKENS`` on the Spark side);
* DuckDB arrays are 1-indexed, Spark's element_at is 1-indexed too.
"""

from __future__ import annotations

import os
from functools import reduce
from operator import and_
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .spark.dedup import MD5INT, TOKENS
from .spark.memo import file_identity, input_fingerprint, memo
from .spark.session import local_frame

SPARK_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE_SQL: dict[str, str] = {}

# Golden parquet files written by ``python -m lacspark.gen_golden``
# (the pure-python oracle engine's expected output for the non-SQL
# tagger/KG queries; see the flagship section below).  The documents
# tables have different texts per scale factor, so doc-derived goldens
# are materialized per SF; the driver's correctness gate runs at
# sf0.01 (the default tag), pytest at sf0.001 sets LACSPARK_GOLDEN_TAG.
GOLDEN_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                          "resources", "golden")
GOLDEN_TAG = os.environ.get("LACSPARK_GOLDEN_TAG", "sf0_01")


def _golden_sql(name: str, per_sf: bool = True) -> str:
    sub = f"{GOLDEN_TAG}/" if per_sf else ""
    return f"select * from read_parquet('{GOLDEN_DIR}/{sub}{name}.parquet')"


def register(name: str, sql: str | None = None):
    def deco(fn):
        SPARK_QUERIES[name] = fn
        if sql is not None:
            ORACLE_SQL[name] = sql
        return fn
    return deco


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Read one testdata table, memoized per (session, path, file
    identity).

    ``spark.read.parquet`` re-runs the file-listing + footer-schema
    job on every call; the returned DataFrame is an immutable lazy
    plan over a static path, so reusing it across query invocations
    in the same session is semantics-free and saves one driver job
    per warm query (a catalog would give this for free via its
    metadata cache — this is the path-based stand-in).  A rewrite of
    any file under the path misses, or the memoized FileIndex would
    serve deleted part files / stale rows."""
    path = f"{sf_dir}/{table}.parquet"
    return memo(spark, ("load", file_identity(path)),
                lambda: spark.read.parquet(path))


def _drain_stream(spark: SparkSession, build, output_mode: str
                  ) -> DataFrame:
    """Run ``build(child)``'s stream to completion in a child session
    and return its memory-sink table (owned by the child).

    The sink's temporary view is dropped from the child's catalog
    once the table is read: the returned frame holds its own plan of
    the sink's rows, so they live only as long as the frame does; a
    view left in the catalog would hold every call's rows for the life
    of the session.

    The child (``spark.newSession()``: same SparkContext, own SQL
    conf) runs with 8 shuffle partitions: a stateful streaming
    operator takes its state-store partition count from this conf at
    query start, and these replays key on a few to a few hundred
    keys, where per-partition store setup dominates (measured
    1.94 s → 0.92 s at 8 against 64; 4/8/16/32 swept, 8 flat-best).
    The caller's session conf is never written, so concurrent
    queries on it keep their own settings.  One child per caller
    session, memoized: a session's first stream adds its listener
    bus to the shared SparkContext for good.

    The child writes its checkpoints through Hadoop's FileSystem API
    (``FileSystemBasedCheckpointFileManager``).  Spark's default
    manager goes through FileContext, which resolves links around
    every temp-file rename; without Hadoop's native library (pip
    PySpark ships none) the local filesystem forks a ``readlink`` for
    each checkpoint file and its ``.crc`` twin.  Measured per warm
    ``streaming_tumbling_minute``: 236 forks (176 ``readlink``, 60
    ``chmod``) and 0.57–0.65 s of reaped-child CPU by default, 60
    ``chmod`` forks and 0.14–0.20 s with FileSystem.  FileContext's
    rename guarantees matter to a checkpoint that a restarted query
    reads again; these are temporary checkpoints behind a memory
    sink, which nothing re-reads.  ``streaming.start_tagging_stream``
    writes a durable user checkpoint and keeps the default."""
    import uuid

    def new_child() -> SparkSession:
        child = spark.newSession()
        child.conf.set("spark.sql.shuffle.partitions", "8")
        child.conf.set(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager")
        return child

    child = memo(spark, ("stream_child",), new_child)
    sink = f"stream_{uuid.uuid4().hex[:8]}"
    q = (build(child).writeStream.trigger(availableNow=True)
         .format("memory").queryName(sink)
         .outputMode(output_mode).start())
    try:
        q.awaitTermination()
    finally:
        _release_listener_bus(q)
    out = child.table(sink)
    child.catalog.dropTempView(sink)
    return out


def _release_listener_bus(q) -> None:
    """Remove from the SparkContext the listener bus that terminated
    stream ``q`` left there.

    Each query runs in its own clone of the starting session, and a
    stateful operator reads the clone's ``streams`` manager for the
    state-store coordinator.  Creating that manager adds a
    ``StreamingQueryListenerBus`` to the SparkContext, which nothing
    removes: one more per query.  Query events go to the starting
    session's bus, never to the clone's, and the clone belongs to
    ``q`` alone, so removing it leaves every other query's bus in
    place.  The manager keeps the bus in a private field (Spark
    4.1)."""
    clone = q._jsq.streamingQuery().sparkSessionForStream()
    manager = clone.sessionState().streamingQueryManager()
    field = manager.getClass().getDeclaredField("listenerBus")
    field.setAccessible(True)
    clone.sparkContext().listenerBus().removeListener(field.get(manager))


# helpers — Spark side
def _tokens(df: DataFrame) -> DataFrame:
    """documents → (doc_id, pos, token), empties filtered.
    Widened first: the sf parquet files arrive as one partition."""
    from .spark.tagger import ensure_parallelism

    t = ensure_parallelism(df).select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "token"))
    return t.filter(F.length("token") > 0)


_MD5INT_DUCK = "(('0x' || substring(md5({x}), 1, 15))::BIGINT)"


def _ratio_round_duck(p: str, q: str, digits: int) -> str:
    """DuckDB twin of dedup.ratio_round: round(p/q, digits) as a
    double via pure integer half-up arithmetic — immune to the
    decimal-midpoint divergence between engines' float round()."""
    m = 10 ** digits
    return (f"(((2 * ({p})::BIGINT * {m} + ({q})::BIGINT) "
            f"// (2 * ({q})::BIGINT)) / {m}.0)")

# DuckDB-side token explode (keeps the same filter semantics)
_DUCK_TOKENS = """
    select doc_id, upos - 1 as pos, token from (
        select doc_id, unnest(string_split(text, ' ')) as token,
               generate_subscripts(string_split(text, ' '), 1) as upos
        from documents)
    where length(token) > 0
"""

# ---------------------------------------------------------------------------
# Relational spine (scan → filter → agg / join / window / sort-limit)
# ---------------------------------------------------------------------------

@register("tpch_q1_pricing", """
    select l_returnflag, l_linestatus,
           cast(round(sum(l_quantity), 2) as double) as sum_qty,
           cast(round(sum(l_extendedprice), 2) as double) as sum_base_price,
           cast(round(sum(l_extendedprice * (1 - l_discount)), 2) as double)
               as sum_disc_price,
           count(*) as count_order
    from lineitem
    group by l_returnflag, l_linestatus
    order by l_returnflag, l_linestatus
""")
def tpch_q1_pricing(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    return (li.groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 2).cast("double")
                 .alias("sum_qty"),
                 F.round(F.sum("l_extendedprice"), 2).cast("double")
                 .alias("sum_base_price"),
                 F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2)
                 .cast("double").alias("sum_disc_price"),
                 F.count(F.lit(1)).alias("count_order"))
            .orderBy("l_returnflag", "l_linestatus"))


@register("orders_by_nation", """
    select n.n_name as nation,
           count(*) as n_orders,
           cast(round(sum(o.o_totalprice), 2) as double) as revenue
    from orders o
    join customer c on o.o_custkey = c.c_custkey
    join nation n on c.c_nationkey = n.n_nationkey
    group by n.n_name
""")
def orders_by_nation(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    # dimension tables are broadcast — no shuffle of the fact side
    return (o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
            .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .groupBy(F.col("n_name").alias("nation"))
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.round(F.sum("o_totalprice"), 2).cast("double")
                 .alias("revenue")))


@register("top_orders_per_customer", """
    select o_custkey, o_orderkey, rnk from (
        select o_custkey, o_orderkey,
               row_number() over (partition by o_custkey
                                  order by o_totalprice desc, o_orderkey)
                   as rnk
        from orders)
    where rnk <= 3
""")
def top_orders_per_customer(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (o.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= 3)
            .select("o_custkey", "o_orderkey", "rnk"))


@register("events_tumbling_minute", """
    select epoch(date_trunc('minute', ts))::BIGINT as window_start,
           event_type,
           count(*) as n_events,
           cast(round(sum(value), 4) as double) as sum_value
    from events
    group by 1, 2
""")
def events_tumbling_minute(spark, sf_dir):
    e = load(spark, sf_dir, "events")
    return (e.groupBy(
        F.unix_timestamp(F.date_trunc("minute", "ts")).cast("bigint")
        .alias("window_start"),
        "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum("value"), 4).cast("double").alias("sum_value")))


@register("streaming_tumbling_minute", """
    select epoch(date_trunc('minute', ts))::BIGINT as window_start,
           event_type,
           count(*) as n_events
    from events
    group by 1, 2
""")
def streaming_tumbling_minute(spark, sf_dir):
    """A REAL Structured Streaming job under the correctness gate:
    readStream over the events parquet (availableNow trigger replays
    it as micro-batches), watermarked tumbling-minute aggregation,
    memory sink; on a finite replay the result must equal the batch
    SQL exactly (complete output mode — append would withhold windows
    newer than the final watermark).  This is the streaming stateful
    aggregate the engine runs continuously in production, proven
    equivalent to its batch twin."""
    schema = load(spark, sf_dir, "events").schema  # memoized listing

    def build(child):
        # the file source wants a directory — glob the events file
        # out of the sf dir
        stream = (child.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1)
                  .option("pathGlobFilter", "events.parquet")
                  .parquet(sf_dir))
        # watermarks need TIMESTAMP (the parquet column is NTZ; the
        # session tz is pinned UTC so the cast preserves wall time)
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
        return (stream.withWatermark("ts", "10 minutes")
                .groupBy(F.window("ts", "1 minute").alias("win"),
                         "event_type")
                .agg(F.count(F.lit(1)).alias("n_events")))

    return _drain_stream(spark, build, "complete").select(
        F.unix_timestamp(F.col("win.start")).cast("bigint")
        .alias("window_start"),
        "event_type", "n_events")


@register("streaming_kg_triple_counts",
          "select doc_id, count(*)::BIGINT as n_triples "
          "from (%s) group by doc_id")
def streaming_kg_triple_counts(spark, sf_dir):
    """The FLAGSHIP KG path under Structured Streaming: readStream
    over the documents parquet (availableNow replay), the same fused
    tag+extract Python pass the batch path uses (stateless, so it
    lifts to streaming unchanged), triple explode, per-doc stateful
    count in complete mode.  On a finite replay the result must equal
    the batch pipeline exactly — the oracle aggregates the golden
    kg_triples parquet.  This is the shape of continuous KG ingestion
    in production (foreachBatch into the lineage-tracked writer);
    the memory sink is the test-scoped harness."""
    from .spark.tagger import tag_and_extract

    schema = load(spark, sf_dir, "documents").schema  # memoized listing

    def build(child):
        stream = (child.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1)
                  .option("pathGlobFilter", "documents.parquet")
                  .parquet(sf_dir))
        stream = stream.filter(F.col("doc_id") % 3 == 0)  # _docs_subset
        # ensure_parallelism skips streaming DFs (micro-batch sizing
        # is the trigger's job) — but this replay is ONE file, so
        # widen the micro-batch explicitly or the CPU-bound UDF runs
        # on the file source's few partitions (1× cores, same r7
        # sizing rationale as ensure_parallelism); the explicit
        # count is untouched by the child's 8 shuffle partitions
        stream = stream.repartition(spark.sparkContext.defaultParallelism)
        tagged = tag_and_extract(stream, "text", mode="rank")
        return (tagged.select("doc_id", F.explode("triples").alias("t"))
                .groupBy("doc_id")
                .agg(F.count(F.lit(1)).alias("n_triples")))

    return _drain_stream(spark, build, "complete")


# late-bind the golden path: GOLDEN_TAG is fixed at import, same as
# every other _golden_sql registration
ORACLE_SQL["streaming_kg_triple_counts"] %= _golden_sql("kg_triples")


@register("lineitem_part_supplier", """
    select p.p_brand as brand, s.s_nationkey as nationkey,
           count(*) as n_items,
           cast(round(sum(l.l_extendedprice), 2) as double) as volume
    from lineitem l
    join part p on l.l_partkey = p.p_partkey
    join supplier s on l.l_suppkey = s.s_suppkey
    group by 1, 2
""")
def lineitem_part_supplier(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    s = load(spark, sf_dir, "supplier")
    return (li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
            .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
            .groupBy(F.col("p_brand").alias("brand"),
                     F.col("s_nationkey").alias("nationkey"))
            .agg(F.count(F.lit(1)).alias("n_items"),
                 F.round(F.sum("l_extendedprice"), 2).cast("double")
                 .alias("volume")))


@register("events_sessionize", """
    with marked as (
        select user_id, ts, event_id,
               case when floor(epoch(ts))::BIGINT
                         - floor(epoch(lag(ts) over w))::BIGINT > 300
                         or lag(ts) over w is null
                    then 1 else 0 end as new_session
        from events window w as (partition by user_id order by ts, event_id)),
    sess as (
        select user_id, event_id,
               (sum(new_session) over (partition by user_id
                                       order by ts, event_id
                                       rows between unbounded preceding
                                       and current row))::BIGINT as session_id
        from marked)
    select user_id, session_id, count(*) as n_events
    from sess group by 1, 2
""")
def events_sessionize(spark, sf_dir):
    """Gap-based sessionization (5-minute inactivity) — the classic
    stateful-stream shape in batch: lag → boundary flag → running sum."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = e.withColumn(
        "new_session",
        F.when(F.lag("ts").over(w).isNull()
               | ((F.unix_timestamp("ts")
                   - F.unix_timestamp(F.lag("ts").over(w))) > 300), 1)
        .otherwise(0))
    wrun = w.rowsBetween(Window.unboundedPreceding, 0)
    sess = marked.withColumn("session_id", F.sum("new_session").over(wrun))
    return (sess.groupBy("user_id", "session_id")
            .agg(F.count(F.lit(1)).alias("n_events")))


@register("orders_rollup", """
    select coalesce(o_orderpriority, '<all>') as priority,
           coalesce(o_orderstatus, '<all>') as status,
           count(*) as n,
           cast(round(sum(o_totalprice), 2) as double) as total
    from orders
    group by rollup (o_orderpriority, o_orderstatus)
""")
def orders_rollup(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    return (o.rollup("o_orderpriority", "o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum("o_totalprice"), 2).cast("double")
                 .alias("total"))
            .select(F.coalesce("o_orderpriority", F.lit("<all>"))
                    .alias("priority"),
                    F.coalesce("o_orderstatus", F.lit("<all>"))
                    .alias("status"), "n", "total"))


@register("customers_set_ops", """
    select 'with_orders' as bucket, count(*) as n from (
        select c_custkey from customer
        intersect
        select o_custkey from orders)
    union all
    select 'without_orders', count(*) from (
        select c_custkey from customer
        except
        select o_custkey from orders)
""")
def customers_set_ops(spark, sf_dir):
    """INTERSECT/EXCEPT counts as ONE distributed job: left-join the
    distinct key sets, aggregate both buckets in a single pass, then
    unpivot the 1-row aggregate — no driver round-trips."""
    c = load(spark, sf_dir, "customer").select("c_custkey").distinct()
    o = (load(spark, sf_dir, "orders")
         .select(F.col("o_custkey").alias("c_custkey")).distinct()
         .withColumn("__has", F.lit(1)))
    agg = (c.join(o, "c_custkey", "left")
           .agg(F.sum(F.coalesce("__has", F.lit(0))).alias("with_o"),
                F.sum(F.when(F.col("__has").isNull(), 1).otherwise(0))
                .alias("without")))
    return agg.select(F.expr(
        "stack(2, 'with_orders', cast(with_o as long), "
        "'without_orders', cast(without as long)) as (bucket, n)"))


@register("orders_running_total", """
    select o_custkey, o_orderkey,
           cast(round(sum(o_totalprice) over (
               partition by o_custkey order by o_orderdate, o_orderkey
               rows between unbounded preceding and current row), 2)
               as double) as running_total
    from orders
""")
def orders_running_total(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    w = (Window.partitionBy("o_custkey")
         .orderBy("o_orderdate", "o_orderkey")
         .rowsBetween(Window.unboundedPreceding, 0))
    return o.select("o_custkey", "o_orderkey",
                    F.round(F.sum("o_totalprice").over(w), 2)
                    .cast("double").alias("running_total"))


# ---------------------------------------------------------------------------
# LAC-shaped token operators over documents (O15-alt, K3, K5, O22)
# ---------------------------------------------------------------------------

@register("doc_token_stats", """
    select d.doc_id,
           coalesce(t.n_tokens, 0) as n_tokens,
           coalesce(t.n_distinct, 0) as n_distinct,
           length(d.text) as n_chars
    from documents d
    left join (select doc_id, count(*) as n_tokens,
                      count(distinct token) as n_distinct
               from (%s) group by doc_id) t on d.doc_id = t.doc_id
""" % _DUCK_TOKENS)
def doc_token_stats(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    t = (_tokens(d).groupBy("doc_id")
         .agg(F.count(F.lit(1)).alias("n_tokens"),
              F.countDistinct("token").alias("n_distinct")))
    return (d.join(t, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
                    F.coalesce("n_distinct", F.lit(0)).alias("n_distinct"),
                    F.length("text").alias("n_chars")))


@register("term_frequency_topk", """
    select token, freq, rnk from (
        select token, count(*) as freq,
               row_number() over (order by count(*) desc, token) as rnk
        from (%s) group by token)
    where rnk <= 50
""" % _DUCK_TOKENS)
def term_frequency_topk(spark, sf_dir):
    t = _tokens(load(spark, sf_dir, "documents"))
    agg = t.groupBy("token").agg(F.count(F.lit(1)).alias("freq"))
    # distributed TakeOrdered for the top-k, THEN a window over ≤50
    # rows — never a global single-partition sort of all terms
    top = agg.orderBy(F.desc("freq"), F.asc("token")).limit(50)
    w = Window.orderBy(F.desc("freq"), F.asc("token"))
    return top.withColumn("rnk", F.row_number().over(w))


@register("mention_like_tokens", """
    select doc_id, pos, token from (%s) where length(token) >= 5
""" % _DUCK_TOKENS)
def mention_like_tokens(spark, sf_dir):
    t = _tokens(load(spark, sf_dir, "documents"))
    return t.filter(F.length("token") >= 5).select("doc_id", "pos", "token")


@register("salience_topk_tokens", """
    select doc_id, token, pos, rnk from (
        select doc_id, token, pos,
               row_number() over (partition by doc_id
                                  order by length(token) desc, token, pos)
                   as rnk
        from (%s))
    where rnk <= 3
""" % _DUCK_TOKENS)
def salience_topk_tokens(spark, sf_dir):
    """Per-doc top-3 WITHOUT the window shuffle (r7): the ranking
    key (length desc, token, pos) is a per-document property, so an
    array_sort over the doc's own token array + slice(3) computes the
    identical rows in the scan projection — the r6 plan's Exchange +
    Sort + row_number over every token row is gone (guide §2.4); at
    corpus scale this is embarrassingly parallel."""
    from .spark.dedup import explode_once
    from .spark.tagger import ensure_parallelism
    d = ensure_parallelism(load(spark, sf_dir, "documents"))
    toks = F.expr(
        "filter(transform(split(text, ' '), (x, i) -> "
        "struct(x as token, i as pos)), s -> length(s.token) > 0)")
    # struct(-len, token, pos) ascending ≡ (len desc, token, pos asc)
    top3 = F.expr(
        "slice(array_sort(transform(__t, s -> struct("
        "-length(s.token) as negl, s.token as token, s.pos as pos)))"
        ", 1, 3)")
    rows = (d.select("doc_id", toks.alias("__t"))
            .select("doc_id", top3.alias("__top")))
    out = explode_once(rows, ["doc_id"], "__top", "s", with_pos="__r")
    return out.select("doc_id", F.col("s.token").alias("token"),
                      F.col("s.pos").alias("pos"),
                      (F.col("__r") + 1).cast("int").alias("rnk"))


@register("word_boundary_merge", """
    select doc_id, word_id,
           string_agg(token, ' ' order by pos) as merged,
           count(*) as n_parts
    from (
        select doc_id, pos, token,
               (sum(case when token similar to '[aeiou].*' then 1 else 0 end)
                   over (partition by doc_id order by pos
                         rows between unbounded preceding and current row)
                   )::BIGINT as word_id
        from (%s))
    group by doc_id, word_id
""" % _DUCK_TOKENS)
def word_boundary_merge(spark, sf_dir):
    """O15 expressed in pure SQL: boundary flag → running sum →
    group-concat (SURVEY §2.1 O15 'pure-SQL alternative').

    The running sum and the group-concat are both per-document, so
    every (word_id, merged, n_parts) group is built in the scan
    projection, with no window and no exchange.  The 1-based
    positions of the boundary tokens are collected once; the group
    starts are those, plus position 1 (word_id 0) when the first
    token is not a boundary; each group is then one ``slice`` +
    ``array_join`` of the token array up to the next start — linear
    in the document's length."""
    from .spark.dedup import explode_once
    from .spark.tagger import ensure_parallelism
    d = ensure_parallelism(load(spark, sf_dir, "documents"))
    toks = F.expr(TOKENS.format(x="text"))
    bounds = F.expr("filter(transform(__t, (x, i) -> "
                    "if(x rlike '^[aeiou]', i + 1, null)), i -> i is not null)")
    starts = F.expr("if(size(__t) = 0 or array_contains(__b, 1), __b, "
                    "concat(array(1), __b))")
    n_parts = "(if(k + 1 < size(__s), __s[k + 1], size(__t) + 1) - s)"
    groups = F.expr(f"""transform(__s, (s, k) -> named_struct(
        'word_id', cast(k + 1 + size(__b) - size(__s) as bigint),
        'merged', array_join(slice(__t, s, {n_parts}), ' '),
        'n_parts', cast({n_parts} as bigint)))""")
    rows = (d.select("doc_id", toks.alias("__t"))
            .select("doc_id", "__t", bounds.alias("__b"))
            .select("doc_id", "__t", "__b", starts.alias("__s"))
            .select("doc_id", groups.alias("__g")))
    out = explode_once(rows, ["doc_id"], "__g", "g")
    return out.select("doc_id", F.col("g.word_id").alias("word_id"),
                      F.col("g.merged").alias("merged"),
                      F.col("g.n_parts").alias("n_parts"))


@register("chunk_eval_f1", """
    with toks as (%s),
    pred as (select doc_id, pos from toks where length(token) %% 2 = 0),
    gold as (select doc_id, pos from toks where token similar to '[a-m].*')
    select
        (select count(*) from pred join gold using (doc_id, pos)) as tp,
        (select count(*) from pred left join gold using (doc_id, pos)
            where gold.pos is null) as fp,
        (select count(*) from gold left join pred using (doc_id, pos)
            where pred.pos is null) as fn
""" % _DUCK_TOKENS)
def chunk_eval_f1(spark, sf_dir):
    """O22 chunk_eval as a join metric: two rule 'taggers' compared
    on (doc, pos) chunks — the same shape as the P/R≥0.95 gate.

    (doc_id, pos) is UNIQUE in the token set and BOTH chunk sets are
    filters of that same set, so the full-outer join the oracle
    spells out is equivalent to one flag-counting pass over the
    tokens: tp = p∧g, fp = p∧¬g, fn = g∧¬p.  One scan, partial
    map-side aggregation, a single 1-row exchange — the r6 plan's
    two explodes + two hash exchanges + SortMergeJoin FullOuter are
    gone (guide §2.4: remove shuffles outright)."""
    t = _tokens(load(spark, sf_dir, "documents"))
    p = (F.length("token") % 2 == 0)
    g = F.col("token").rlike("^[a-m]")
    return t.agg(
        F.sum(F.when(p & g, 1).otherwise(0)).cast("long").alias("tp"),
        F.sum(F.when(p & ~g, 1).otherwise(0)).cast("long").alias("fp"),
        F.sum(F.when(g & ~p, 1).otherwise(0)).cast("long").alias("fn"))


@register("cooccurrence_pairs", """
    with ctoks as (
        select doc_id,
               row_number() over (partition by doc_id order by pos) - 1
                   as cpos,
               token
        from (%s)),
    toks as (select * from ctoks where length(token) >= 4)
    select a.token as t1, b.token as t2, count(*) as n_cooccur
    from toks a join toks b
      on a.doc_id = b.doc_id and b.cpos > a.cpos and b.cpos <= a.cpos + 3
    where a.token < b.token
    group by 1, 2
""" % _DUCK_TOKENS)
def cooccurrence_pairs(spark, sf_dir):
    """K4's cross-sentence variant: windowed token co-occurrence.

    Pairs are generated INSIDE the scan projection (indexed transform
    over the token array + slice of the next 3 positions) — the old
    positional self-join shuffled the token table twice; this plan's
    only shuffle is the final (t1, t2) aggregate.

    Adjacency is over COMPACTED positions (empty tokens removed
    before windowing); the oracle renumbers with row_number over the
    raw split order so both engines agree on texts with consecutive
    spaces."""
    from .spark.tagger import ensure_parallelism
    d = ensure_parallelism(load(spark, sf_dir, "documents"))
    toks = F.expr(TOKENS.format(x="text"))
    pairs = F.expr(
        "flatten(transform(__toks, (x, i) -> "
        "  case when length(x) >= 4 then "
        "    transform(filter(slice(__toks, i + 2, 3), "
        "                     y -> length(y) >= 4 and x < y), "
        "              y -> struct(x as t1, y as t2)) "
        "  else array() end))")
    from .spark.dedup import explode_once
    return (explode_once(d.select(toks.alias("__toks"))
                         .select(pairs.alias("__pairs")),
                         [], "__pairs", "p")
            .groupBy(F.col("p.t1").alias("t1"), F.col("p.t2").alias("t2"))
            .agg(F.count(F.lit(1)).alias("n_cooccur")))


# ---------------------------------------------------------------------------
# Deduplication suite (exact, minhash/LSH, simhash, n-gram jaccard)
# ---------------------------------------------------------------------------

@register("dedup_exact_stats", """
    select count(*) as n_docs,
           count(distinct md5(text)) as n_distinct,
           count(*) - count(distinct md5(text)) as n_dup_rows
    from documents
""")
def dedup_exact_stats(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return (d.agg(F.count(F.lit(1)).alias("n_docs"),
                  F.countDistinct(F.md5("text")).alias("n_distinct"))
            .withColumn("n_dup_rows",
                        F.col("n_docs") - F.col("n_distinct")))


@register("dedup_exact_pairs", """
    select keeper as d1, doc_id as d2 from (
        select doc_id,
               min(doc_id) over (partition by md5(text)) as keeper
        from documents)
    where doc_id != keeper
""")
def dedup_exact_pairs(spark, sf_dir):
    """Exact-dup resolution pairs in KEEPER form: one (keeper, member)
    row per duplicate — k-1 rows for a k-way group, never the
    all-pairs k(k-1)/2 fan-out (a boilerplate file duplicated 10^6
    times emits 10^6-1 rows, not 5*10^11).  One window over the
    content hash — a single shuffle, no self-join, no arrays."""
    d = load(spark, sf_dir, "documents") \
        .select("doc_id", F.md5("text").alias("h"))
    keeper = F.min("doc_id").over(Window.partitionBy("h"))
    return (d.withColumn("keeper", keeper)
            .filter(F.col("doc_id") != F.col("keeper"))
            .select(F.col("keeper").alias("d1"),
                    F.col("doc_id").alias("d2")))


def _minhash_select_duck(n: int) -> str:
    """Universal-hash minhash columns over the int64 shingle
    fingerprints, mirroring dedup.minhash_signature/minhash_ab."""
    from .spark.dedup import MINHASH_P, minhash_ab

    cols = []
    for i in range(n):
        a, b = minhash_ab(i)
        cols.append(f"min(({a} * (h % {MINHASH_P}) + {b}) "
                    f"% {MINHASH_P}) as mh{i}")
    return ", ".join(cols)


def _minhash_pairs_duck() -> str:
    """DuckDB replica of the full minhash/LSH near-dup pipeline —
    shared by dedup_minhash_lsh and dedup_near_keep_best.  One md5
    fingerprint per distinct shingle, then universal-hash mixes (the
    Spark side's exact arithmetic)."""
    return f"""
    with toks as ({_DUCK_TOKENS}),
    tsets as (
        select distinct doc_id,
               {_MD5INT_DUCK.format(x="token")} as h
        from (
            select doc_id,
                   token || ' ' || lead(token) over w || ' ' ||
                       lead(token, 2) over w as token,
                   lead(token, 2) over w as t2
            from toks
            window w as (partition by doc_id order by pos))
        where t2 is not null),
    sigs as (select doc_id, {_minhash_select_duck(6)}
             from tsets group by doc_id),
    bands as (
        select doc_id, 0 as band, md5(mh0::VARCHAR || ',' || mh1::VARCHAR) as bkey from sigs
        union all
        select doc_id, 1, md5(mh2::VARCHAR || ',' || mh3::VARCHAR) from sigs
        union all
        select doc_id, 2, md5(mh4::VARCHAR || ',' || mh5::VARCHAR) from sigs),
    capped as (select doc_id, band, bkey from (
        select *, count(*) over (partition by band, bkey) as bn from bands)
        where bn <= 2000),
    cand as (select distinct a.doc_id as d1, b.doc_id as d2
             from capped a join capped b
               on a.band = b.band and a.bkey = b.bkey
                  and a.doc_id < b.doc_id),
    sz as (select doc_id, count(*) as sz from tsets group by doc_id),
    inter as (select c.d1, c.d2, count(*) as n_inter
              from cand c
              join tsets x on x.doc_id = c.d1
              join tsets y on y.doc_id = c.d2 and y.h = x.h
              group by c.d1, c.d2)
    select c.d1, c.d2,
           {_ratio_round_duck(
               "coalesce(i.n_inter, 0)",
               "s1.sz + s2.sz - coalesce(i.n_inter, 0)", 4)} as jaccard
    from cand c
    left join inter i on i.d1 = c.d1 and i.d2 = c.d2
    join sz s1 on s1.doc_id = c.d1
    join sz s2 on s2.doc_id = c.d2
    where coalesce(i.n_inter, 0) * 1.0 /
          (s1.sz + s2.sz - coalesce(i.n_inter, 0)) >= 0.9
"""


@register("dedup_minhash_lsh", _minhash_pairs_duck())
def dedup_minhash_lsh(spark, sf_dir):
    """Near-dup detection: token-set minhash (6 hashes, 3 bands of 2)
    → banded candidate join → exact-jaccard verification ≥ 0.9.
    All hashing md5-based and deterministic (K6's mechanism applied
    to whole-document dedup)."""
    from .spark.dedup import minhash_near_duplicates
    return minhash_near_duplicates(load(spark, sf_dir, "documents"),
                                   "doc_id", "text", num_hashes=6,
                                   band_size=2, threshold=0.9)


@register("dedup_near_keep_best", f"""
    with pairs as ({_minhash_pairs_duck()}),
    sym as (select d1 as a, d2 as b from pairs
            union all
            select d2, d1 from pairs),
    ln as (select doc_id, length(text) as ln from documents),
    ranked as (
        select s.a, s.b, la.ln as ln_a, lb.ln as ln_b,
               row_number() over (partition by s.a
                                  order by lb.ln desc, s.b) as rn
        from sym s
        join ln la on la.doc_id = s.a
        join ln lb on lb.doc_id = s.b)
    select a as dropped_id, b as kept_id from ranked
    where rn = 1 and (ln_b > ln_a or (ln_b = ln_a and b < a))
""")
def dedup_near_keep_best(spark, sf_dir):
    """Greedy near-dup pruning: a document is DROPPED when any
    verified near-duplicate neighbor beats it (longer text, then
    lower doc_id); its keeper is its best neighbor.  One window over
    the symmetric pair list — the standard one-hop resolution pass
    that follows LSH dedup in training-data pipelines (transitive
    closure is `connected_components` when full clusters are needed).
    """
    docs = load(spark, sf_dir, "documents")
    from .spark.dedup import minhash_near_duplicates
    pairs = minhash_near_duplicates(docs, "doc_id", "text", num_hashes=6,
                                    band_size=2, threshold=0.9)
    # symmetrize with ONE explode, not a union — a union's two
    # branches each recompute the whole minhash/LSH DAG upstream
    sym = pairs.select(F.explode(F.array(
        F.struct(F.col("d1").alias("a"), F.col("d2").alias("b")),
        F.struct(F.col("d2").alias("a"), F.col("d1").alias("b"))))
        .alias("p")).select("p.a", "p.b")
    ln = docs.select("doc_id", F.length("text").alias("ln"))
    j = (sym.join(ln.select(F.col("doc_id").alias("a"),
                            F.col("ln").alias("ln_a")), "a")
         .join(ln.select(F.col("doc_id").alias("b"),
                         F.col("ln").alias("ln_b")), "b"))
    w = Window.partitionBy("a").orderBy(F.desc("ln_b"), F.asc("b"))
    return (j.withColumn("rn", F.row_number().over(w))
            .filter((F.col("rn") == 1)
                    & ((F.col("ln_b") > F.col("ln_a"))
                       | ((F.col("ln_b") == F.col("ln_a"))
                          & (F.col("b") < F.col("a")))))
            .select(F.col("a").alias("dropped_id"),
                    F.col("b").alias("kept_id")))


@register("dedup_near_components", f"""
    with recursive pairs as ({_minhash_pairs_duck()}),
    e as (select d1 as a, d2 as b from pairs
          union all select d2, d1 from pairs),
    reach as (
        select a as node, b as r from e
        union
        select e2.a, reach.r from e e2
        join reach on reach.node = e2.b)
    select node as doc_id,
           least(node, min(r))::BIGINT as cluster_id
    from reach group by node
""")
def dedup_near_components(spark, sf_dir):
    """FULL near-dup clusters: connected components (K7's operator)
    over the verified minhash pair graph — cluster_id = min doc_id of
    the component, one row per clustered document.  The keep-best
    query is the one-hop greedy resolution; this is the transitive
    closure a dedup pass needs when duplicate chains exceed one hop
    (A~B, B~C, cos(A,C) below threshold → one cluster here, two
    keepers there).  The oracle computes the identical closure with a
    recursive CTE.  Spark side: the same large-star/small-star CC the
    entity-linking path uses — O(log n) rounds at any diameter; doc
    ids ride zero-padded so the CC's lexicographic min equals the
    numeric min."""
    from .spark.canonical import connected_components
    from .spark.dedup import minhash_near_duplicates
    docs = load(spark, sf_dir, "documents")
    pairs = minhash_near_duplicates(docs, "doc_id", "text", num_hashes=6,
                                    band_size=2, threshold=0.9)
    pad = 12
    # persist the verified pair graph: the CC size probes and the
    # vertex-union branches would otherwise re-execute the whole
    # minhash/LSH DAG once per consumer (measured 3x at sf0.1)
    edges = pairs.select(
        F.lpad(F.col("d1").cast("string"), pad, "0").alias("src"),
        F.lpad(F.col("d2").cast("string"), pad, "0").alias("dst")) \
        .persist()
    verts = (edges.select(F.col("src").alias("form"))
             .union(edges.select(F.col("dst").alias("form")))
             .distinct())
    cc = connected_components(verts, edges)
    # cut lineage, then release the cached pair graph (bench runs each
    # query twice — without this every invocation leaked cached blocks)
    cc = cc.localCheckpoint()
    edges.unpersist()
    return cc.select(F.col("form").cast("bigint").alias("doc_id"),
                     F.col("canonical").cast("bigint")
                     .alias("cluster_id"))


def _substring_spans_duck(k: int = 8, min_span: int = 10,
                          max_df: int = 50) -> str:
    """DuckDB replay of dedup.substring_duplicate_spans: identical
    fingerprints (md5-int of the k-token gram), identical max_df cap,
    identical diagonal run-merge."""
    leads = " || ' ' || ".join(
        "token" if i == 0 else f"lead(token, {i}) over w"
        for i in range(k))
    return f"""
    with toks as ({_DUCK_TOKENS}),
    ftoks as (select doc_id,
                     row_number() over (partition by doc_id
                                        order by pos) - 1 as pos,
                     token
              from toks),
    fps as (
        select doc_id, pos, {_MD5INT_DUCK.format(x='g')} as fp from (
            select doc_id, pos, {leads} as g,
                   lead(token, {k - 1}) over w as t_last
            from ftoks window w as (partition by doc_id order by pos))
        where t_last is not null),
    capped as (select doc_id, pos, fp from (
        select *, count(*) over (partition by fp) as df from fps)
        where df <= {max_df}),
    hits as (
        select a.doc_id as d1, a.pos as p1, b.doc_id as d2, b.pos as p2
        from capped a join capped b
          on a.fp = b.fp and a.doc_id < b.doc_id),
    runs as (
        select d1, d2, p1 - p2 as diag, p1, p2,
               p1 - row_number() over (partition by d1, d2, p1 - p2
                                       order by p1) as grp
        from hits)
    select d1, d2, min(p1) as start1, min(p2) as start2,
           (max(p1) - min(p1) + {k})::BIGINT as span_len
    from runs group by d1, d2, diag, grp
    having max(p1) - min(p1) + {k} >= {min_span}
"""


@register("dedup_substring_spans", _substring_spans_duck())
def dedup_substring_spans(spark, sf_dir):
    """Cross-document duplicated-span removal (Lee et al. 2022):
    maximal shared token runs >= 10 tokens between document pairs —
    the substring-level dedup a pretraining pipeline runs after
    doc-level passes (two distinct pages sharing one boilerplate
    paragraph).  See dedup.substring_duplicate_spans for the
    distributed plan shape."""
    from .spark.dedup import substring_duplicate_spans
    return substring_duplicate_spans(
        load(spark, sf_dir, "documents"), "doc_id", "text",
        k=8, min_span=10, max_df=50)


@register("dedup_substring_clean", f"""
    with spans as ({_substring_spans_duck()}),
    cov as (select distinct d2 as doc_id,
                   start2 + unnest(generate_series(0, span_len - 1))
                       as pos
            from spans),
    toks as ({_DUCK_TOKENS}),
    ftoks as (select doc_id,
                     row_number() over (partition by doc_id
                                        order by pos) - 1 as pos,
                     token
              from toks),
    affected as (select doc_id, count(*) as n_removed from cov
                 group by doc_id),
    kept as (
        select f.doc_id, f.pos, f.token
        from ftoks f join affected a using (doc_id)
        left join cov c on c.doc_id = f.doc_id and c.pos = f.pos
        where c.pos is null)
    select a.doc_id,
           a.n_removed::BIGINT as n_removed,
           coalesce(k.n_kept, 0)::BIGINT as n_kept,
           coalesce(k.clean_text, '') as clean_text
    from affected a
    left join (select doc_id, count(*) as n_kept,
                      string_agg(token, ' ' order by pos) as clean_text
               from kept group by doc_id) k using (doc_id)
""")
def dedup_substring_clean(spark, sf_dir):
    """Duplicated-span REMOVAL (the apply step of Lee et al. 2022):
    cut every >= 10-token span shared with an earlier document
    (keep-first-by-id) and emit the cleaned text for affected docs.
    See dedup.substring_dedup_clean for the projection-only cut."""
    from .spark.dedup import substring_dedup_clean
    return substring_dedup_clean(
        load(spark, sf_dir, "documents"), "doc_id", "text",
        k=8, min_span=10, max_df=50)


@register("sample_stratified", f"""
    select lang,
           count(*) as n_total,
           sum(case when ({_MD5INT_DUCK.format(
               x="'smp:' || doc_id::VARCHAR")}) % 100 < 10
               then 1 else 0 end)::BIGINT as n_sampled
    from documents group by lang
""")
def sample_stratified(spark, sf_dir):
    """Deterministic hash sampling with per-stratum accounting: the
    keep decision is md5(doc_id) % 100 < rate — reproducible across
    engines, runs, and partitionings (rand()-based sampling is not),
    which is what makes training-data splits auditable.  Pure
    projection + one aggregate; no shuffle beyond the groupBy."""
    d = load(spark, sf_dir, "documents")
    keep = (F.expr(MD5INT.format(
        x="concat('smp:', cast(doc_id as string))")) % 100 < 10)
    return (d.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_total"),
                 F.sum(keep.cast("long")).alias("n_sampled")))


@register("dedup_simhash", f"""
    with toks as ({_DUCK_TOKENS}),
    bits as (select doc_id,
        {", ".join(
            f"sum(case when (({_MD5INT_DUCK.format(x='token')}) >> {j}) & 1 = 1 "
            f"then 1 else -1 end) as b{j}" for j in range(16))}
        from toks group by doc_id)
    select doc_id,
           ({" + ".join(f"(case when b{j} > 0 then {1 << j} else 0 end)"
                        for j in range(16))})::BIGINT as simhash
    from bits
""")
def dedup_simhash(spark, sf_dir):
    """16-bit simhash fingerprint from md5 token hashes — identical
    arithmetic in the DuckDB oracle."""
    from .spark.dedup import simhash
    return simhash(load(spark, sf_dir, "documents"), "doc_id", "text",
                   nbits=16)


@register("dedup_jaccard_adjacent", f"""
    with tsets as (select distinct doc_id, token from ({_DUCK_TOKENS}))
    select a.doc_id as doc_id,
           {_ratio_round_duck(
               "count(case when b.token is not null then 1 end)",
               "count(distinct a.token) "
               "+ (select count(distinct token) from tsets "
               "   where doc_id = a.doc_id + 1) "
               "- count(case when b.token is not null then 1 end)",
               4)} as jaccard_next
    from tsets a
    left join tsets b on b.doc_id = a.doc_id + 1 and b.token = a.token
    where exists (select 1 from tsets c where c.doc_id = a.doc_id + 1)
    group by a.doc_id
""")
def dedup_jaccard_adjacent(spark, sf_dir):
    """Token-set jaccard between doc i and doc i+1 — n-gram-jaccard
    dedup on a linear candidate structure.  Token sets stay per-doc
    ARRAYS (projection-only, no explode/distinct shuffle); one
    equi-join on doc_id aligns each doc with its successor and
    array_intersect computes the overlap in place."""
    from .spark.tagger import ensure_parallelism
    d = ensure_parallelism(load(spark, sf_dir, "documents"))
    tset = F.array_distinct(F.expr(TOKENS.format(x="text")))
    docs = (d.select("doc_id", tset.alias("ts"))
            .filter(F.size("ts") > 0))  # empty docs drop on both sides
    nxt = docs.select((F.col("doc_id") - 1).alias("doc_id"),
                      F.col("ts").alias("ts_next"))
    from .spark.dedup import ratio_round
    inter = F.size(F.array_intersect("ts", "ts_next"))
    return (docs.join(nxt, "doc_id")  # inner: only docs with a successor
            .withColumn("n_inter", inter)
            .select("doc_id",
                    ratio_round(
                        "n_inter",
                        "size(ts) + size(ts_next) - n_inter", 4)
                    .alias("jaccard_next")))


# ---------------------------------------------------------------------------
# Text analysis: lang-id, quality, token classes, fingerprint
# ---------------------------------------------------------------------------

@register("lang_id_heuristic", """
    select doc_id,
        case
          when length(regexp_replace(text, '[\\x00-\\x7F]', '', 'g')) * 2
               > length(text) then 'cjk-or-other'
          when length(text) - length(replace(text, ' the ', '    ')) > 0
            then 'en'
          else 'unknown'
        end as lang_pred
    from documents
""")
def lang_id_heuristic(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    non_ascii = F.length(F.regexp_replace("text", r"[\x00-\x7F]", ""))
    has_the = (F.length("text")
               - F.length(F.replace(F.col("text"), F.lit(" the "),
                                    F.lit("    ")))) > 0
    return d.select(
        "doc_id",
        F.when(non_ascii * 2 > F.length("text"), "cjk-or-other")
        .when(has_the, "en").otherwise("unknown").alias("lang_pred"))


@register("quality_score", """
    select doc_id,
           least(length(text) // 100, 5) as len_bucket,
           (length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) * 100)
               // greatest(length(text), 1) as punct_pct,
           (length(text) - length(replace(replace(replace(text,
                ' the ', '     '), ' a ', '    '), ' and ', '      ')))
               as stopword_chars,
           case when length(text) between 50 and 5000
                 and (length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g'))
                      * 100) // greatest(length(text), 1) < 10
                then 1 else 0 end as is_quality
    from documents
""")
def quality_score(spark, sf_dir):
    from .spark.quality import punct_pct, quality_gate
    d = load(spark, sf_dir, "documents")
    stop = (F.length("text") - F.length(
        F.replace(F.replace(F.replace(F.col("text"),
                                      F.lit(" the "), F.lit("     ")),
                            F.lit(" a "), F.lit("    ")),
                  F.lit(" and "), F.lit("      "))))
    return d.select(
        "doc_id",
        F.least(F.floor(F.length("text") / 100), F.lit(5)).cast("long")
        .alias("len_bucket"),
        punct_pct().cast("long").alias("punct_pct"),
        stop.cast("long").alias("stopword_chars"),
        F.when(reduce(and_, quality_gate(punct_pct())), 1).otherwise(0)
        .alias("is_quality"))


def _repetition_duck_ctes() -> str:
    """Relational DuckDB replica of quality.repetition_stats: the
    Spark side folds over the sorted per-doc gram ARRAY (zero
    shuffle); the oracle computes the same quantities the relational
    way (explode + group + top-1 window with the same
    count-desc/gram-asc tie-break).  Emits CTE `rep` with unrounded
    fractions for docs with >= 2 tokens."""
    return """
    rtok as (select doc_id, length(text) as nc,
                    list_filter(string_split(text, ' '),
                                x -> length(x) > 0) as toks,
                    list_filter(string_split(text, chr(10)),
                                x -> length(x) > 0) as lns
             from documents),
    rbase as (select doc_id, nc, toks, lns
              from rtok where len(toks) >= 2),
    rg as (select doc_id, toks[i] || ' ' || toks[i + 1] as g2
           from (select doc_id, toks,
                        unnest(generate_series(1, len(toks) - 1)) as i
                 from rbase)),
    rc as (select doc_id, g2, count(*) as c,
                  count(*) * length(g2) as ch
           from rg group by doc_id, g2),
    ragg as (select doc_id, sum(ch) as totch,
                    coalesce(sum(ch) filter (c > 1), 0) as dupch
             from rc group by doc_id),
    rtop as (select doc_id, c * length(g2) as topch from (
        select *, row_number() over (partition by doc_id
                                     order by c desc, g2) as rn
        from rc) where rn = 1),
    rcnt as (select doc_id, nc, len(toks) as nt,
                    len(list_distinct(toks)) as ndt,
                    len(lns) as nl, len(list_distinct(lns)) as ndl
             from rbase),
    rep as (select doc_id,
                   topch, dupch, totch, nc, nt, ndt, nl, ndl,
                   -- char-fraction denominators are DOCUMENT chars
                   -- (Rae et al. 2021), not summed gram chars
                   topch * 1.0 / nc as top2,
                   dupch * 1.0 / nc as dup2,
                   (nt - ndt) * 1.0 / nt as dtok,
                   (nl - ndl) * 1.0 / nl as dline
            from ragg join rtop using (doc_id)
                      join rcnt using (doc_id))
"""


def _rep_keep_duck() -> str:
    from .spark.quality import REPETITION_LIMITS as L
    return (f"top2 <= {L['top_2gram_frac']} and "
            f"dup2 <= {L['dup_2gram_frac']} and "
            f"dtok <= {L['dup_token_frac']} and "
            f"dline <= {L['dup_line_frac']}")


@register("quality_repetition", f"""
    with {_repetition_duck_ctes()}
    select doc_id,
           {_ratio_round_duck("topch", "nc", 6)} as top_2gram_frac,
           {_ratio_round_duck("dupch", "nc", 6)} as dup_2gram_frac,
           {_ratio_round_duck("nt - ndt", "nt", 6)} as dup_token_frac,
           {_ratio_round_duck("nl - ndl", "nl", 6)} as dup_line_frac,
           (case when {_rep_keep_duck()}
            then 1 else 0 end)::BIGINT as keep
    from rep
""")
def quality_repetition(spark, sf_dir):
    """Gopher-style repetition quality filters (Rae et al. 2021):
    most-common-2-gram char fraction, duplicated-2-gram char
    fraction, duplicated-token fraction, duplicated-line fraction,
    and the composed keep decision.  Spark side is a zero-shuffle
    sorted-array fold (quality.repetition_stats); the oracle computes
    the identical quantities relationally."""
    from .spark.quality import repetition_stats
    return repetition_stats(load(spark, sf_dir, "documents"),
                            "doc_id", "text")


@register("corpus_curation", f"""
    with {_repetition_duck_ctes()},
    cur as (
        select doc_id, lang,
               (length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g'))
                   * 100) // greatest(length(text), 1) as punct_pct,
               min(doc_id) over (partition by md5(text)) as keeper,
               length(text) as ln,
               ({_MD5INT_DUCK.format(
                   x="'cur:' || doc_id::VARCHAR")}) % 100 as smp
        from documents)
    select doc_id, lang, punct_pct
    from cur join rep using (doc_id)
    where doc_id = keeper and ln between 50 and 5000
          and punct_pct < 10 and smp < 50 and {_rep_keep_duck()}
""")
def corpus_curation(spark, sf_dir):
    """The end-to-end curation pass a pretraining pipeline runs
    before tokenization, as ONE composed query: exact-dup keeper
    selection (window over the content hash), quality gate (length
    band + punctuation ratio), Gopher repetition gate (projection
    fold — no join, no second scan), deterministic 50% per-doc hash
    sample — one scan, one keyed shuffle (the keeper window), pure
    projections otherwise.  Every stage is the same mechanism as its
    standalone query (dedup_exact_pairs / quality_score /
    quality_repetition / sample_stratified), proving the operators
    compose without extra shuffles."""
    from .spark.quality import (curation_sample, punct_pct, quality_gate,
                                with_repetition_keep)
    d = with_repetition_keep(load(spark, sf_dir, "documents"))
    keeper = F.min("doc_id").over(Window.partitionBy(F.md5("text")))
    gate = [F.col("doc_id") == F.col("keeper"),
            *quality_gate(F.col("punct_pct")), curation_sample(),
            F.col("rep_keep")]
    return (d.withColumn("keeper", keeper)
            .withColumn("punct_pct", punct_pct().cast("long"))
            .filter(reduce(and_, gate))
            .select("doc_id", "lang", "punct_pct"))


def _lm_oracle() -> str:
    from .lm import default_nllq, lm_path
    return f"""
    with lm as (select t1, coalesce(t2, '') as t2, nllq
                from read_csv('{lm_path()}', delim = '\t', header = true,
                              quote = '', escape = '')),
    toks as ({_DUCK_TOKENS}),
    ftoks as (select doc_id,
                     row_number() over (partition by doc_id
                                        order by pos) - 1 as pos,
                     token
              from toks),
    pairs as (
        select doc_id, t1, t2 from (
            select doc_id, token as t1,
                   lead(token) over (partition by doc_id
                                     order by pos) as t2
            from ftoks)
        where t2 is not null),
    scored as (
        select p.doc_id,
               coalesce(b.nllq, u.nllq, {default_nllq()}) as nllq
        from pairs p
        left join (select t1, t2, nllq from lm where t2 != '') b
          on b.t1 = p.t1 and b.t2 = p.t2
        left join (select t1, nllq from lm where t2 = '') u
          on u.t1 = p.t1)
    select doc_id, count(*)::BIGINT as n_bigrams,
           (((2 * sum(nllq) + count(*)) // (2 * count(*)))
               / 1000000.0)::DOUBLE as avg_nll,
           (case when sum(nllq) * 1.0 / (1000000.0 * count(*)) <= 5.0
            then 1 else 0 end)::BIGINT as lm_keep
    from scored group by doc_id
"""


@register("quality_lm_score", _lm_oracle())
def quality_lm_score(spark, sf_dir):
    """CCNet-style LM-perplexity quality filter (Wenzek et al. 2020
    bucket corpora by LM score): per-document mean Laplace-smoothed
    bigram negative log2 likelihood against the committed fixture
    LM (lacspark.lm), keep = score <= 5.0 bits/bigram.

    Determinism: the fixture carries PRE-QUANTIZED integer nll values
    (no engine evaluates a log — libm last-ulp differences can't
    flip the rounding), and the per-doc mean is an exact integer sum
    divided once.  Scale shape: the LM table is dictionary-shaped →
    broadcast joins onto the exploded bigram stream; one keyed
    shuffle for the per-doc aggregate."""
    from .lm import default_nllq, lm_path
    from .spark.dedup import explode_once
    from .spark.tagger import ensure_parallelism

    bi_rows, ctx_rows = [], []
    with open(lm_path(), encoding="utf-8") as fh:
        next(fh)
        for line in fh:
            t1, t2, _c, nllq = line.rstrip("\n").split("\t")
            if t2 == "":
                ctx_rows.append((t1, int(nllq)))
            else:
                bi_rows.append((t1, t2, int(nllq)))
    bi = local_frame(spark, bi_rows, "t1 string, t2 string, nllq long")
    ctx = local_frame(spark, ctx_rows, "t1 string, u_nllq long")

    toks = F.expr(TOKENS.format(x="text"))
    pairs_arr = F.expr(
        "case when size(__toks) >= 2 then "
        "transform(sequence(1, size(__toks) - 1), i -> named_struct("
        "'t1', element_at(__toks, i), 't2', element_at(__toks, i + 1)))"
        " else array() end")
    d = (ensure_parallelism(load(spark, sf_dir, "documents"))
         .select("doc_id", toks.alias("__toks"))
         .select("doc_id", pairs_arr.alias("__pairs")))
    pairs = explode_once(d, ["doc_id"], "__pairs", "p") \
        .select("doc_id", F.col("p.t1").alias("t1"),
                F.col("p.t2").alias("t2"))
    scored = (pairs.join(F.broadcast(bi), ["t1", "t2"], "left")
              .join(F.broadcast(ctx), ["t1"], "left")
              .select("doc_id",
                      F.coalesce("nllq", "u_nllq",
                                 F.lit(default_nllq())).alias("nllq")))
    # mean rounded to 6 decimals via INTEGER half-up — F.round on a
    # double rounds the shortest decimal repr (HALF_UP on X.XXXXXX5)
    # while DuckDB/python round the binary double, so a decimal-
    # midpoint mean (any 2-bigram doc with odd nll sum) would diverge
    s, n = F.sum("nllq"), F.count(F.lit(1))
    return (scored.groupBy("doc_id")
            .agg(n.cast("long").alias("n_bigrams"),
                 s.alias("__s"), n.alias("__n"),
                 F.when(s * F.lit(1.0) / (n * F.lit(1_000_000.0))
                        <= 5.0, 1).otherwise(0)
                 .cast("long").alias("lm_keep"))
            .select("doc_id", "n_bigrams",
                    (F.expr("cast((2 * __s + __n) div (2 * __n) "
                            "as double)") / 1_000_000.0)
                    .alias("avg_nll"),
                    "lm_keep"))


def _streaming_curation_oracle() -> str:
    return f"""
    with {_repetition_duck_ctes()},
    gated as (
        select d.doc_id, d.lang
        from documents d join rep using (doc_id)
        where {_rep_keep_duck()}
          and length(d.text) between 50 and 5000
          and (length(regexp_replace(d.text, '[a-zA-Z0-9 ]', '', 'g'))
               * 100) // greatest(length(d.text), 1) < 10
          and ({_MD5INT_DUCK.format(
              x="'cur:' || d.doc_id::VARCHAR")}) % 100 < 50)
    select lang, count(*)::BIGINT as n_pass from gated group by lang
"""


@register("streaming_curation_counts", _streaming_curation_oracle())
def streaming_curation_counts(spark, sf_dir):
    """The curation QUALITY gates under Structured Streaming:
    readStream over the documents parquet (availableNow replay), the
    repetition fold + quality gate + deterministic hash sample — all
    stateless projections, so they lift from the batch path unchanged
    — then a per-lang stateful count in complete mode.  On a finite
    replay the result must equal the batch SQL exactly.  (The
    exact-dup keeper stage is the one curation step that is NOT
    stateless — its streaming twin is the applyInPandasWithState
    dedup operator in spark/streaming.py, pytest-gated.)"""
    from .spark.quality import (curation_sample, punct_pct, quality_gate,
                                with_repetition_keep)

    schema = load(spark, sf_dir, "documents").schema  # memoized listing

    def build(child):
        # availableNow with DEFAULT file batching: the gates are
        # stateless projections, so per-file micro-batches + a
        # per-batch repartition (the round-4 shape) bought nothing
        # but trigger overhead — one trigger over all available files
        # shows the same ≡-batch equivalence at a third of the cost.
        # Trigger-rate sizing (maxFilesPerTrigger /
        # maxBytesPerTrigger) is the production backpressure knob,
        # not a correctness ingredient.
        stream = (child.readStream.schema(schema)
                  .option("pathGlobFilter", "documents.parquet")
                  .parquet(sf_dir))
        return (with_repetition_keep(stream)
                .filter(reduce(and_, [F.col("rep_keep"),
                                      *quality_gate(punct_pct()),
                                      curation_sample()]))
                .groupBy("lang")
                .agg(F.count(F.lit(1)).alias("n_pass")))

    return _drain_stream(spark, build, "complete")


@register("streaming_dedup_keeper", r"""
    select lang,
           md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))
               as fingerprint
    from documents
    where text is not null and regexp_matches(text, '^[ -~]*$')
    group by 1, 2
""")
def streaming_dedup_keeper(spark, sf_dir):
    """The STATEFUL streaming exact-dup keeper under the correctness
    gate (the one curation stage that can't lift statelessly —
    ``applyInPandasWithState`` keeps the per-key seen-fingerprint set
    in the state store; spark/streaming.py:47).

    Replay shape: every document arrives TWICE — once raw, once as a
    case/whitespace-mangled twin (explode over [text, mangled] on the
    one file source; a two-source self-union never finishes under
    availableNow) — different raw bytes, same normalized fingerprint,
    so the keeper must emit exactly ONE row per (lang, fingerprint).
    The oracle is the batch twin: DISTINCT (lang, md5(normalized
    text)) over the original corpus — which duplicate the keeper saw
    first is order-dependent, so the gated projection carries only
    the order-insensitive (key, fingerprint) pair, never the raw
    text.  Cross-micro-batch state, TTL expiry, and the FIFO size
    cap are pytest-gated (tests/test_streaming_state.py).

    Gate scope: printable-ASCII, non-null text only (filter mirrored
    in the oracle).  The operator's Python normalization
    (``' '.join(text.lower().split())``) and the oracle's DuckDB
    ``trim`` + RE2 ``\\s+`` agree EXACTLY on that subset but diverge
    off it (Python splits on Unicode whitespace and strips
    \\t/\\n-edges that ASCII-only ``trim`` keeps; ``upper`` round-
    trips ``ß``→``SS``→``ss``), so the cross-engine comparison is
    only claimed where it is provable — today's corpus is entirely
    inside the subset (500/500 docs), and the operator's full-Unicode
    behavior stays pytest-gated engine-side."""
    from .spark.streaming import streaming_dedup

    schema = load(spark, sf_dir, "documents").schema  # memoized listing

    def build(child):
        stream = (child.readStream.schema(schema)
                  .option("pathGlobFilter", "documents.parquet")
                  .parquet(sf_dir)
                  # \A..\z, not ^..$: Java's $ also matches before a
                  # FINAL line terminator, so 'abc\n' would pass here
                  # yet fail the oracle's RE2 end-of-text anchor
                  # (ADVICE r6); unambiguous anchors make the two
                  # filters identical on every input, not just
                  # newline-free ones
                  .filter(F.col("text").isNotNull()
                          & F.col("text").rlike(r"\A[ -~]*\z"))
                  .select("lang", F.explode(F.array(
                      F.col("text"),
                      F.concat(F.lit("  "), F.upper("text"), F.lit(" "))
                  )).alias("text")))
        # timeout_minutes=None: a bounded availableNow replay must not
        # arm processing-time TTL timers — pending timers keep the
        # query alive through no-data micro-batches until every TTL
        # fires (streaming_dedup docstring)
        return streaming_dedup(stream, "lang", "text",
                               timeout_minutes=None)

    return _drain_stream(spark, build, "append") \
        .select("lang", "fingerprint")


@register("token_class_counts", """
    select doc_id,
           length(regexp_extract_all(text, '[A-Za-z]+')) as n_alpha,
           length(regexp_extract_all(text, '[0-9]+')) as n_num,
           length(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))
               as n_bpe_ish
    from documents
""")
def token_class_counts(spark, sf_dir):
    """BPE-ish token counting via regex classes (scale path for
    token-budget accounting)."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit("[A-Za-z]+"), F.lit(0)))
        .alias("n_alpha"),
        F.size(F.regexp_extract_all("text", F.lit("[0-9]+"), F.lit(0)))
        .alias("n_num"),
        F.size(F.regexp_extract_all(
            "text", F.lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"), F.lit(0)))
        .alias("n_bpe_ish"))


@register("token_count_bpe", _golden_sql("token_count_bpe"))
def token_count_bpe(spark, sf_dir):
    """REAL subword token counting: greedy longest-match against the
    committed BPE-trained vocab fixture (lacspark.subword), run as
    one Python pass with a per-worker tokenizer singleton.  The
    golden oracle is the identical pure-python tokenizer over the
    same corpus — the regex-class token_class_counts stays as the
    cheap JVM approximation; this is the count a tokenizer-faithful
    packing budget needs."""
    from .spark.subword import with_subword_counts
    d = with_subword_counts(load(spark, sf_dir, "documents"))
    n_words = F.size(F.expr(TOKENS.format(x="text")))
    return d.select("doc_id",
                    n_words.cast("long").alias("n_words"),
                    F.col("__sw.n_subwords").alias("n_subwords"),
                    F.col("__sw.n_unk").alias("n_unk"))


# Documents per shard of the packing prefix sum (:func:`_pack`).
_SHARD_DOCS = 200


def _pack(t: DataFrame, n: str) -> DataFrame:
    """(doc_id, lang, n, stream_offset, pack_id) over (doc_id, lang, n)
    rows: documents are laid head-to-tail per language stream in
    doc_id order and cut into 512-token packs (pack_id =
    floor(stream_offset / 512)), with ``n`` tokens per document.

    Implemented as a HIERARCHICAL prefix sum — bit-identical to one
    global running-sum window per lang, but no partition ever holds a
    whole language:
      1. shard = floor(doc_id / _SHARD_DOCS) is order-consistent with
         the stream order, so within-(lang, shard) running sums are
         exact local prefixes;
      2. per-shard token totals (a tiny aggregate, _SHARD_DOCS×
         smaller than the data) get an EXCLUSIVE running sum per
         lang — the shard base offsets;
      3. offset = shard base + within-shard prefix, one equi-join
         (AQE broadcasts the shard table while it fits; raise
         _SHARD_DOCS to shrink it).  Each extra level divides the
         widest window by another _SHARD_DOCS — two levels cover
         10^12 docs."""
    t = t.withColumn("__shard",
                     (F.col("doc_id") / _SHARD_DOCS).cast("bigint"))
    w_in = (Window.partitionBy("lang", "__shard").orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, 0))
    within = t.withColumn("__local", F.sum(n).over(w_in) - F.col(n))
    totals = t.groupBy("lang", "__shard").agg(F.sum(n).alias("__tot"))
    w_sh = (Window.partitionBy("lang").orderBy("__shard")
            .rowsBetween(Window.unboundedPreceding, -1))
    bases = totals.withColumn(
        "__base", F.coalesce(F.sum("__tot").over(w_sh), F.lit(0)))
    return (within.join(bases.select("lang", "__shard", "__base"),
                        ["lang", "__shard"])
            .withColumn("stream_offset",
                        F.col("__base") + F.col("__local"))
            .withColumn("pack_id",
                        (F.col("stream_offset") / 512).cast("bigint"))
            .select("doc_id", "lang", n, "stream_offset", "pack_id"))


@register("pack_sequences_bpe", f"""
    with c as (select doc_id, n_subwords
               from read_parquet('{{golden}}')),
    t as (select d.doc_id, d.lang, c.n_subwords
          from documents d join c using (doc_id))
    select doc_id, lang, n_subwords,
           ((sum(n_subwords) over w) - n_subwords)::BIGINT
               as stream_offset,
           (((sum(n_subwords) over w) - n_subwords) // 512)::BIGINT
               as pack_id
    from t
    window w as (partition by lang order by doc_id
                 rows between unbounded preceding and current row)
""")
def pack_sequences_bpe(spark, sf_dir):
    """pack_sequences with the budget measured in REAL subword
    tokens (the vocab-fixture tokenizer) instead of whitespace
    words: the same :func:`_pack` prefix sum and 512-token packs —
    proving the packing machinery survives contact with an actual
    tokenizer.  Oracle: the identical window over the
    token_count_bpe golden counts."""
    from .spark.subword import with_subword_counts
    docs = load(spark, sf_dir, "documents")
    # BOTH prefix-sum branches (within-shard window + per-shard
    # totals) consume the counts; the memo's persist runs the
    # tokenizer UDF pass ONCE per corpus instead of once per branch
    # (lazy — plan-only consumers never execute it; an eager
    # localCheckpoint here ran the UDF at construction time and hid
    # the plan from inspection)
    ident = input_fingerprint(docs)
    t = memo(spark, ("pack_bpe", ident) if ident else None,
             lambda: with_subword_counts(docs).select(
                 "doc_id", "lang",
                 F.col("__sw.n_subwords").alias("n_subwords")),
             persist=True)
    return _pack(t, "n_subwords")


ORACLE_SQL["pack_sequences_bpe"] = ORACLE_SQL["pack_sequences_bpe"] \
    .format(golden=f"{GOLDEN_DIR}/{GOLDEN_TAG}/token_count_bpe.parquet")


@register("pack_sequences", """
    with t as (select doc_id, lang,
                      length(string_split(text, ' '))
                          - length(list_filter(string_split(text, ' '),
                                               x -> length(x) = 0))
                          as n_tokens
               from documents)
    select doc_id, lang, n_tokens,
           ((sum(n_tokens) over w) - n_tokens)::BIGINT as stream_offset,
           (((sum(n_tokens) over w) - n_tokens) // 512)::BIGINT as pack_id
    from t
    window w as (partition by lang order by doc_id
                 rows between unbounded preceding and current row)
""")
def pack_sequences(spark, sf_dir):
    """Greedy sequence packing for pretraining (:func:`_pack`) with
    the budget measured in whitespace tokens."""
    d = load(spark, sf_dir, "documents")
    toks = F.size(F.expr(TOKENS.format(x="text")))
    return _pack(d.select("doc_id", "lang", toks.alias("n_tokens")),
                 "n_tokens")


def _contamination_duck(n: int = 8) -> str:
    leads = " || ' ' || ".join(
        "token" if i == 0 else f"lead(token, {i}) over w"
        for i in range(n))
    return f"""
    with toks as ({_DUCK_TOKENS}),
    grams as (
        select distinct doc_id, g from (
            select doc_id, {leads} as g,
                   lead(token, {n - 1}) over w as t_last
            from toks
            window w as (partition by doc_id order by pos))
        where t_last is not null),
    ev as (select doc_id, g from grams where doc_id % 20 = 0),
    tr as (select doc_id, g from grams where doc_id % 20 != 0)
    select tr.doc_id as train_doc_id, ev.doc_id as eval_doc_id,
           count(*) as n_shared_grams
    from tr join ev using (g)
    group by 1, 2
"""


@register("contamination_check", _contamination_duck(8))
def contamination_check(spark, sf_dir):
    """Train/eval contamination: flag train documents sharing any
    8-token shingle with a held-out doc (doc_id % 20 = 0 plays the
    eval set).  Shingles are projection-built arrays (no
    explode/distinct shuffle until the final equi-join on the gram
    hash); at corpus scale the join keys are md5 ints, the eval side
    is small → broadcast."""
    from .spark.dedup import shingle_sets

    from .spark.dedup import explode_once

    def grams(df, out_id):
        # filter BEFORE shingling (the eval side builds 8-grams for
        # 5% of the corpus); explode_once builds each doc's shingle
        # array once instead of once per emitted gram
        return explode_once(shingle_sets(df, "doc_id", "text", n=8),
                            ["doc_id"], "shset", "g") \
            .select(F.col("doc_id").alias(out_id), "g")

    d = load(spark, sf_dir, "documents")
    ev = grams(d.filter(F.col("doc_id") % 20 == 0), "eval_doc_id")
    tr = grams(d.filter(F.col("doc_id") % 20 != 0), "train_doc_id")
    return (tr.join(F.broadcast(ev), "g")
            .groupBy("train_doc_id", "eval_doc_id")
            .agg(F.count(F.lit(1)).alias("n_shared_grams")))


@register("quality_features_label", """
    with f as (
        select doc_id,
               length(text)::DOUBLE as n_chars,
               greatest(length(text), 1)::DOUBLE as sn,
               length(list_filter(string_split(text, ' '),
                                  x -> length(x) > 0))::DOUBLE as n_tokens,
               length(regexp_replace(text, '[A-Za-z]', '', 'g'))::DOUBLE
                   as rem_alpha,
               length(regexp_replace(text, '[0-9]', '', 'g'))::DOUBLE
                   as rem_digit
        from documents)
    select doc_id, n_chars, n_tokens,
           %s as alpha_ratio,
           %s as digit_ratio,
           cast(case when n_chars >= 50 and (1 - rem_alpha / sn) >= 0.5
                          and (1 - rem_digit / sn) <= 0.3
                then 1.0 else 0.0 end as double) as label,
           case when (%s) %% 100 < 10 then 1 else 0 end as is_test
    from f
""" % (_ratio_round_duck("(sn - rem_alpha)", "sn", 6),
       _ratio_round_duck("(sn - rem_digit)", "sn", 6),
       _MD5INT_DUCK.format(x="'split:' || doc_id::VARCHAR")))
def quality_features_label(spark, sf_dir):
    """Feature/label/split plumbing of the quality-classifier
    trainer (spark/quality.py): JVM-projection features, heuristic
    labels, md5-deterministic train/test split — the oracle-gated
    part; the LR fit itself is MLlib (pytest-gated)."""
    from .spark.dedup import ratio_round
    from .spark.quality import hash_split, heuristic_label, text_features
    d = load(spark, sf_dir, "documents")
    f = heuristic_label(text_features(d))
    train, test = hash_split(f)
    both = (train.withColumn("is_test", F.lit(0))
            .unionByName(test.withColumn("is_test", F.lit(1))))
    sn = "greatest(length(text), 1)"
    return both.select(
        "doc_id", "n_chars", "n_tokens",
        ratio_round(
            f"{sn} - length(regexp_replace(text, '[A-Za-z]', ''))",
            sn, 6).alias("alpha_ratio"),
        ratio_round(
            f"{sn} - length(regexp_replace(text, '[0-9]', ''))",
            sn, 6).alias("digit_ratio"),
        "label", "is_test")


@register("doc_fingerprint", """
    select doc_id,
           md5(lower(regexp_replace(text, ' +', ' ', 'g'))) as fingerprint,
           %s as fp_int
    from documents
""" % _MD5INT_DUCK.format(x="lower(regexp_replace(text, ' +', ' ', 'g'))"))
def doc_fingerprint(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    norm = F.lower(F.regexp_replace("text", " +", " "))
    return d.select(
        "doc_id", F.md5(norm).alias("fingerprint"),
        F.expr(MD5INT.format(
            x="lower(regexp_replace(text, ' +', ' '))")).alias("fp_int"))


def _rolling_oracle() -> str:
    from .spark.dedup import _RH_K, _RH_P, _RH_POWS, _RH_W
    gram = " + ".join(
        f"(ascii(substring(text, i + {j}, 1))::BIGINT) * {_RH_POWS[j]}"
        for j in range(_RH_K))
    return f"""
    with g as (
        select doc_id,
               list_transform(
                   generate_series(1, length(text) - {_RH_K - 1}),
                   i -> ({gram}) % {_RH_P}) as gr
        from documents where length(text) >= {_RH_K}),
    w as (
        select doc_id, len(gr) as n_grams,
               list_distinct(list_transform(
                   generate_series(1, len(gr) - {_RH_W - 1}),
                   i -> list_min(gr[i:i + {_RH_W - 1}]))) as mins
        from g)
    select doc_id, n_grams::BIGINT as n_grams,
           len(mins)::BIGINT as n_winnow,
           (list_sum(mins) % {_RH_P})::BIGINT as winnow_digest
    from w
"""


@register("doc_rolling_fingerprint", _rolling_oracle())
def doc_rolling_fingerprint(spark, sf_dir):
    """WINNOWING document fingerprint over polynomial k-gram rolling
    hashes (the near-dup fingerprint family of Schleimer et al.'s
    winnowing / MOSS): hash every 8-code-point gram with a base-131
    polynomial mod 2^31-1, slide a 4-gram window keeping each
    window's minimum, and digest the distinct minima (count +
    order-independent modular sum).  One Arrow map stage, one
    vectorized numpy pass per document in the O(n·k) per-position
    form (k = 8 multiplies); the oracle replays the identical
    arithmetic.  Documents under 8 code points emit no row; those of
    8–10 have no full window: n_winnow 0, NULL digest."""
    from .spark.dedup import winnow
    return winnow(load(spark, sf_dir, "documents"), "doc_id", "text")


@register("binary_payload_meta", """
    select doc_id,
           octet_length(encode(text)) as n_bytes,
           sha256(text) as payload_sha
    from documents
""")
def binary_payload_meta(spark, sf_dir):
    """Multimodal plumbing: treat the payload as an opaque binary
    column with typed metadata (SURVEY multimodal posture).  Nothing
    is decoded here; the real PNG/BMP/JPEG/WAV decode is
    ``lacspark.spark.multimodal.extract_real_features``."""
    d = load(spark, sf_dir, "documents")
    return d.select("doc_id",
                    F.octet_length(F.encode("text", "utf-8"))
                    .alias("n_bytes"),
                    F.sha2("text", 256).alias("payload_sha"))


# ---------------------------------------------------------------------------
# Similarity search over embeddings
# ---------------------------------------------------------------------------

@register("ann_bruteforce_top5", """
    with q as (select vec_id, embedding::DOUBLE[] e from embeddings
               where vec_id < 10),
    n as (select vec_id, embedding::DOUBLE[] e from embeddings)
    select query_id, neighbor_id, rnk from (
        select q.vec_id as query_id, n.vec_id as neighbor_id,
               row_number() over (
                   partition by q.vec_id
                   order by list_dot_product(q.e, n.e) /
                       (sqrt(list_dot_product(q.e, q.e))
                        * sqrt(list_dot_product(n.e, n.e))) desc,
                       n.vec_id) as rnk
        from q cross join n where n.vec_id != q.vec_id)
    where rnk <= 5
""")
def ann_bruteforce_top5(spark, sf_dir):
    """Brute-force cosine top-k: the correctness baseline for ANN.
    Dot products via zip_with/aggregate on double-cast arrays — all
    JVM-side, no UDF."""
    from .spark.similarity import cosine_topk
    e = load(spark, sf_dir, "embeddings")
    return cosine_topk(e.filter(F.col("vec_id") < 10), e,
                       "vec_id", "embedding", k=5) \
        .select("query_id", "neighbor_id", "rnk")


@register("ann_lsh_buckets", """
    select bucket, count(*) as n_vectors from (
        select vec_id,
               (%s)::BIGINT as bucket
        from embeddings)
    group by bucket
""" % " + ".join(f"(case when embedding[{j + 1}] > 0 then {1 << j} else 0 end)"
                 for j in range(8)))
def ann_lsh_buckets(spark, sf_dir):
    """Sign-bit LSH bucketing over the first 8 dims — the scale path
    that turns ANN into an equi-join on bucket keys."""
    e = load(spark, sf_dir, "embeddings")
    expr = " + ".join(
        f"(case when element_at(embedding, {j + 1}) > 0 "
        f"then {1 << j} else 0 end)" for j in range(8))
    return (e.select(F.expr(f"cast({expr} as bigint)").alias("bucket"))
            .groupBy("bucket").agg(F.count(F.lit(1)).alias("n_vectors")))


@register("embedding_label_stats", """
    select label, count(*) as n,
           cast(round(avg(sqrt(list_dot_product(
               embedding::DOUBLE[], embedding::DOUBLE[]))), 4) as double)
               as avg_norm
    from embeddings group by label
""")
def embedding_label_stats(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")
    dot = ("aggregate(zip_with(e, e, (x, y) -> x * y), cast(0 as double), "
           "(acc, v) -> acc + v)")
    return (e.select("label",
                     F.expr("transform(embedding, x -> cast(x as double))")
                     .alias("e"))
            .withColumn("nrm", F.expr(f"sqrt({dot})"))
            .groupBy("label")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.avg("nrm"), 4).cast("double").alias("avg_norm")))


@register("dedup_exact_groups", """
    select content_hash, n_docs, ids from (
        select md5(text) as content_hash, count(*) as n_docs,
               list_sort(list(doc_id)) as ids
        from documents group by 1)
    where n_docs > 1
""")
def dedup_exact_groups_q(spark, sf_dir):
    from .spark.dedup import exact_duplicate_groups
    return exact_duplicate_groups(load(spark, sf_dir, "documents"),
                                  "doc_id", "text")


def _emb_band_ctes(nbits: int = 8, nbands: int = 2,
                   threshold: float = 0.30,
                   max_bucket: int = 20_000) -> str:
    """Shared DuckDB CTEs for the multi-band embedding sign-LSH
    family, mirroring dedup.embedding_near_duplicates: one b-bit
    sign code per disjoint dim slice, candidates = distinct pairs
    sharing ANY band's code, exact cosine verify on the pair.  The
    Spark side's ``max_bucket`` degenerate-bucket cap is mirrored
    here so the two engines agree at ANY scale factor (an uncapped
    oracle would silently diverge the first time a (band, code)
    bucket exceeds the cap)."""
    def code(b):
        return " + ".join(
            f"(case when embedding[{b * nbits + j + 1}] > 0 "
            f"then {1 << j} else 0 end)" for j in range(nbits))
    codes = ", ".join(f"({code(b)})::BIGINT as c{b}"
                      for b in range(nbands))
    band_union = " union all ".join(
        f"select vec_id, {b} as band, c{b} as code from v"
        for b in range(nbands))
    cos = ("list_dot_product(x.e, y.e) / "
           "(sqrt(list_dot_product(x.e, x.e)) "
           "* sqrt(list_dot_product(y.e, y.e)))")
    return f"""
    with v as (select vec_id, embedding::DOUBLE[] e, {codes}
               from embeddings),
    bands as ({band_union}),
    bcap as (select vec_id, band, code from (
        select *, count(*) over (partition by band, code) as bn
        from bands) where bn <= {max_bucket}),
    cand as (select distinct a.vec_id as d1, b.vec_id as d2
             from bcap a join bcap b
               on a.band = b.band and a.code = b.code
                  and a.vec_id < b.vec_id),
    pairs as (
        select d1, d2, {cos} as cos
        from cand join v x on x.vec_id = cand.d1
                  join v y on y.vec_id = cand.d2
        where {cos} >= {threshold})
"""


@register("dedup_embedding_keep_best", _emb_band_ctes() + """
    , sym as (select d1 as a, d2 as b from pairs
              union all select d2, d1 from pairs)
    select a as dropped_id, min(b) as kept_id
    from sym group by a having min(b) < a
""")
def dedup_embedding_keep_best(spark, sf_dir):
    """SemDeDup-style resolution over embedding near-dup pairs: a
    vector is DROPPED when any cosine-similar neighbor has a smaller
    id; its keeper is the smallest such neighbor.  One aggregate over
    the symmetrized pair list (the pair DAG executes once — explode
    symmetrization, not union)."""
    from .spark.dedup import embedding_near_duplicates
    pairs = embedding_near_duplicates(load(spark, sf_dir, "embeddings"),
                                      "vec_id", "embedding",
                                      threshold=0.30, nbits=8)
    sym = pairs.select(F.explode(F.array(
        F.struct(F.col("d1").alias("a"), F.col("d2").alias("b")),
        F.struct(F.col("d2").alias("a"), F.col("d1").alias("b"))))
        .alias("p")).select("p.a", "p.b")
    return (sym.groupBy(F.col("a").alias("dropped_id"))
            .agg(F.min("b").alias("kept_id"))
            .filter(F.col("kept_id") < F.col("dropped_id")))


@register("dedup_embedding_cosine", _emb_band_ctes() + """
    select d1, d2, cast(round(cos, 6) as double) as cosine from pairs
""")
def dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-dup (multi-band sign-LSH candidates +
    exact cosine verify).  Threshold 0.30 so the synthetic random
    embeddings yield a non-trivial result set."""
    from .spark.dedup import embedding_near_duplicates
    return embedding_near_duplicates(load(spark, sf_dir, "embeddings"),
                                     "vec_id", "embedding",
                                     threshold=0.30, nbits=8, nbands=2)


def _ann_lsh_oracle(nbands: int = 4, nbits: int = 8,
                    radius: int = 2) -> str:
    from .spark.similarity import probe_masks

    def band_code(b):
        return " + ".join(
            f"(case when embedding[{b * nbits + j + 1}] > 0 "
            f"then {1 << j} else 0 end)" for j in range(nbits))
    codes = ", ".join(f"({band_code(b)})::BIGINT" for b in range(nbands))
    bands = ", ".join(str(b) for b in range(nbands))
    masks = ", ".join(str(m) for m in probe_masks(nbits, radius))
    # parallel unnests zip in DuckDB: one (band, code) row per band
    return f"""
    with v0 as (select vec_id, embedding::DOUBLE[] e,
                       unnest([{bands}]) as band,
                       unnest([{codes}]) as code
                from embeddings),
    -- the Spark side's corpus-bucket cap (lsh_bucketed_topk
    -- max_bucket=100000), mirrored so both engines agree at any SF
    v as (select vec_id, band, code as bucket from (
        select *, count(*) over (partition by band, code) as bn
        from v0)
        where bn <= 100000),
    q as (select vec_id, band, xor(code, mask) as bucket
          from v0, unnest([{masks}]) as t(mask) where vec_id < 50),
    cand as (select distinct q.vec_id as query_id,
                    n.vec_id as neighbor_id
             from q join v n on n.band = q.band
                 and n.bucket = q.bucket and n.vec_id != q.vec_id),
    ve as (select vec_id, embedding::DOUBLE[] e from embeddings)
    select query_id, neighbor_id, rnk from (
        select query_id, neighbor_id,
               row_number() over (
                   partition by query_id
                   order by list_dot_product(qe.e, ne.e) /
                       (sqrt(list_dot_product(qe.e, qe.e))
                        * sqrt(list_dot_product(ne.e, ne.e))) desc,
                       neighbor_id) as rnk
        from cand join ve qe on qe.vec_id = cand.query_id
                  join ve ne on ne.vec_id = cand.neighbor_id)
    where rnk <= 5
"""


@register("ann_lsh_topk", _ann_lsh_oracle())
def ann_lsh_topk(spark, sf_dir):
    """Scale-path ANN: 4-band multi-probe sign-bit LSH
    (Hamming-radius-2 probes per band, candidates deduped id-only
    before the vector re-rank).  The oracle expresses the identical
    band/probe/dedup/window plan in DuckDB; recall@5 >= 0.7 vs the
    exact brute-force twin is asserted in pytest
    (test_similarity.py)."""
    from .spark.similarity import lsh_bucketed_topk
    e = load(spark, sf_dir, "embeddings")
    return lsh_bucketed_topk(e.filter(F.col("vec_id") < 50), e,
                             "vec_id", "embedding", k=5, nbits=8,
                             probe_radius=2, nbands=4) \
        .select("query_id", "neighbor_id", "rnk")


_IVF_DIM = 64
_IVF_K = 16
_IVF_ITERS = 2


def _ivf_oracle_ctes() -> str:
    """Shared DuckDB CTEs replaying the label-free DETERMINISTIC
    k-means of lacspark.spark.similarity.kmeans_codebook, unrolled to
    the fixed iteration count: md5-stratified seed pick (the _IVF_K
    vectors with the smallest (md5(id), id)), cosine argmax
    assignment with ties to the lowest list_id, per-list component
    means via scaled-integer sums rounded to 6 decimals, then the
    final assignment and the
    nprobe=3 probe set for query ids < 50.  Every nondeterminism
    k-means normally has is pinned, so both engines compute the
    identical codebook."""
    # scaled-integer accumulation + INTEGER half-away-from-zero mean,
    # mirroring kmeans_codebook: exact bigint sums of 1e-6-quantized
    # components are order-independent, and the integer rounding
    # avoids the decimal-midpoint divergence between DuckDB's
    # binary-double round and Spark's shortest-repr HALF_UP
    def _cmean(j):
        s = f"sum(round(e[{j + 1}] * 1000000)::BIGINT)"
        return (f"((case when {s} >= 0 "
                f"then (2 * {s} + count(*)) // (2 * count(*)) "
                f"else -((2 * (-({s})) + count(*)) // (2 * count(*))) "
                f"end) / 1000000.0)")
    cent = ", ".join(_cmean(j) for j in range(_IVF_DIM))
    cos_c = ("list_dot_product(v.e, c.cv) / "
             "(sqrt(list_dot_product(v.e, v.e)) "
             "* sqrt(list_dot_product(c.cv, c.cv)))")

    def assign_cte(src: str, where: str = "", rn: int = 1) -> str:
        return f"""(
        select vec_id, e, list_id from (
            select v.vec_id, v.e, c.list_id,
                   row_number() over (partition by v.vec_id
                       order by {cos_c} desc, c.list_id) as rn
            from v cross join {src} c {where}) where rn <= {rn})"""

    sql = f"""
    with v as (select vec_id, embedding::DOUBLE[] e from embeddings),
    c0 as (
        select row_number() over (
                   order by md5(vec_id::VARCHAR), vec_id) - 1
                   as list_id,
               e as cv
        from (select vec_id, e from v
              order by md5(vec_id::VARCHAR), vec_id limit {_IVF_K}))"""
    prev = "c0"
    for it in range(1, _IVF_ITERS + 1):
        sql += f""",
    a{it} as {assign_cte(prev)},
    c{it} as (select list_id, [{cent}]::DOUBLE[] as cv
              from a{it} group by list_id)"""
        prev = f"c{it}"
    sql += f""",
    assign as {assign_cte(prev)},
    probes as {assign_cte(prev, "where v.vec_id < 50", rn=3)}
"""
    return sql


@register("ann_ivf_lists", _ivf_oracle_ctes() + """
    select list_id, count(*) as n_vectors from assign group by list_id
""")
def ann_ivf_lists(spark, sf_dir):
    """IVF partition histogram: corpus vectors per inverted list
    after nearest-centroid assignment — the skew diagnostic for
    choosing nprobe at scale.  Codebook = label-free deterministic
    k-means (no label column needed, as on a real corpus)."""
    from .spark.similarity import ivf_list_sizes
    e = load(spark, sf_dir, "embeddings")
    return ivf_list_sizes(e, "vec_id", "embedding", _IVF_DIM,
                          n_lists=_IVF_K, iters=_IVF_ITERS)


@register("ann_ivf_topk", _ivf_oracle_ctes() + """
    select query_id, neighbor_id, rnk from (
        select q.vec_id as query_id, n.vec_id as neighbor_id,
               row_number() over (
                   partition by q.vec_id
                   order by list_dot_product(q.e, n.e) /
                       (sqrt(list_dot_product(q.e, q.e))
                        * sqrt(list_dot_product(n.e, n.e))) desc,
                       n.vec_id) as rnk
        from probes q join assign n using (list_id)
        where n.vec_id != q.vec_id)
    where rnk <= 5
""")
def ann_ivf_topk(spark, sf_dir):
    """IVF ANN scale path: deterministic k-means codebook computed
    from the vectors themselves (broadcast; no label crutch),
    shuffle-free nearest-list corpus assignment, nprobe=3 probe
    fan-out on the query side, equi-join on list_id, exact cosine
    re-rank.  Data-adaptive complement to the data-independent
    sign-LSH path (`ann_lsh_topk`)."""
    from .spark.similarity import ivf_topk
    e = load(spark, sf_dir, "embeddings")
    return ivf_topk(e.filter(F.col("vec_id") < 50), e,
                    "vec_id", "embedding", _IVF_DIM,
                    k=5, nprobe=3, n_lists=_IVF_K, iters=_IVF_ITERS) \
        .select("query_id", "neighbor_id", "rnk")


_PQ_M = 8
_PQ_DS = 8          # 64 dims / 8 subspaces
_PQ_K = 32
_PQ_ITERS = 2
_PQ_RERANK = 100


def _pq_oracle_ctes() -> str:
    """DuckDB replay of the DETERMINISTIC product quantizer
    (similarity.pq_codebooks/pq_encode/pq_topk): per-subspace
    md5-seeded k-means with UNROLLED squared-L2 argmin (identical
    left-associative float order to the Spark expressions, so argmin
    ties can't flip), scaled-integer centroid means keyed by
    ORIGINAL centroid id (empty cells drop out identically), then
    the ADC score as the same fixed-order sum of per-subspace
    centroid dots, top-``_PQ_RERANK`` shortlist, exact-cosine
    re-rank."""
    m, ds, kk = _PQ_M, _PQ_DS, _PQ_K

    def l2(off: int) -> str:
        return " + ".join(
            f"(u.uu[{off + j + 1}] - c.cv[{j + 1}]) * "
            f"(u.uu[{off + j + 1}] - c.cv[{j + 1}])"
            for j in range(ds))

    def cmean(off: int, j: int) -> str:
        ssum = f"sum(round(uu[{off + j + 1}] * 1000000)::BIGINT)"
        return (f"((case when {ssum} >= 0 "
                f"then (2 * {ssum} + count(*)) // (2 * count(*)) "
                f"else -((2 * (-({ssum})) + count(*)) "
                f"// (2 * count(*))) end) / 1000000.0)")

    sql = f"""
    with v as (select vec_id, embedding::DOUBLE[] e from embeddings),
    u as (select vec_id,
                 list_transform(e, x ->
                     x / sqrt(list_dot_product(e, e))) as uu
          from v),
    useeds as (select row_number() over (
                   order by md5(vec_id::VARCHAR), vec_id) - 1 as rk,
                   uu
               from (select vec_id, uu from u
                     order by md5(vec_id::VARCHAR), vec_id
                     limit {kk}))"""
    for mi in range(m):
        off = mi * ds
        cent = ", ".join(cmean(off, j) for j in range(ds))
        sql += f""",
    c{mi}_0 as (select rk as code,
                uu[{off + 1}:{off + ds}] as cv from useeds)"""
        prev = f"c{mi}_0"
        for it in range(1, _PQ_ITERS + 1):
            sql += f""",
    a{mi}_{it} as (
        select vec_id, uu, code from (
            select u.vec_id, u.uu, c.code,
                   row_number() over (partition by u.vec_id
                       order by {l2(off)} asc, c.code) as rn
            from u cross join {prev} c) where rn = 1),
    c{mi}_{it} as (select code, [{cent}]::DOUBLE[] as cv
                   from a{mi}_{it} group by code)"""
            prev = f"c{mi}_{it}"
        sql += f""",
    enc{mi} as (
        select vec_id, code from (
            select u.vec_id, c.code,
                   row_number() over (partition by u.vec_id
                       order by {l2(off)} asc, c.code) as rn
            from u cross join {prev} c) where rn = 1)"""
    joins = " ".join(f"join enc{mi} e{mi} using (vec_id)"
                     for mi in range(1, m))
    code_cols = ", ".join(f"e{mi}.code as code_{mi}"
                          for mi in range(m))
    sql += f""",
    codes as (select e0.vec_id, {code_cols}
              from enc0 e0 {joins})"""
    cjoins = []
    for mi in range(m):
        cjoins.append(f"join c{mi}_{_PQ_ITERS} cc{mi} "
                      f"on cc{mi}.code = n.code_{mi}")
    # mirror the Spark LUT form: per-subspace sequential dots
    # (list_dot_product ≡ Spark's in-order zip_with/aggregate fold —
    # the bit-exact equivalence the exact cosine already rides),
    # summed left-associatively across the M subspaces
    adc_terms = " + ".join(
        f"list_dot_product(q.uu[{mi * ds + 1}:{mi * ds + ds}], "
        f"cc{mi}.cv)" for mi in range(m))
    sql += f""",
    adc as (
        select q.vec_id as query_id, n.vec_id as neighbor_id,
               {adc_terms} as adc
        from (select vec_id, uu from u where vec_id < 50) q
        cross join codes n
        {" ".join(cjoins)}
        where n.vec_id != q.vec_id),
    short as (select query_id, neighbor_id from (
        select query_id, neighbor_id,
               row_number() over (partition by query_id
                   order by adc desc, neighbor_id) as rn
        from adc) where rn <= {_PQ_RERANK})
"""
    return sql


@register("ann_pq_topk", _pq_oracle_ctes() + """
    select query_id, neighbor_id, rnk from (
        select s.query_id, s.neighbor_id,
               row_number() over (
                   partition by s.query_id
                   order by list_dot_product(q.e, n.e) /
                       (sqrt(list_dot_product(q.e, q.e))
                        * sqrt(list_dot_product(n.e, n.e))) desc,
                       s.neighbor_id) as rnk
        from short s join v q on q.vec_id = s.query_id
                     join v n on n.vec_id = s.neighbor_id)
    where rnk <= 5
""")
def ann_pq_topk(spark, sf_dir):
    """Product-quantization ANN (Jégou et al. 2011): deterministic
    per-subspace k-means codebooks (8 subspaces × 32 centroids over
    the normalized 64-dim vectors), corpus compressed to one small
    int per subspace, asymmetric-distance (ADC) scan over the CODE
    table only, top-100 shortlist, exact-cosine re-rank to top-5.
    The compressed-domain third leg of the ANN family (brute force =
    exact baseline, LSH = data-independent, IVF = partition-pruned,
    PQ = memory-compressed); recall@5 0.72-0.90 measured across
    fixtures, asserted ≥ 0.6 in pytest.  The oracle replays the
    identical codebooks, codes, ADC order, and re-rank."""
    from .spark.similarity import pq_topk
    e = load(spark, sf_dir, "embeddings")
    return pq_topk(e.filter(F.col("vec_id") < 50), e,
                   "vec_id", "embedding", 64, k=5, m=_PQ_M,
                   n_cents=_PQ_K, iters=_PQ_ITERS,
                   rerank=_PQ_RERANK) \
        .select("query_id", "neighbor_id", "rnk")


@register("multimodal_decode_stats",
          _golden_sql("multimodal_decode_stats", per_sf=False))
def multimodal_decode_stats(spark, sf_dir):
    """REAL multimodal decode — no fake: PNG/BMP images through the
    stdlib zlib decoder, PCM WAV through ``wave``, frames/v1 video
    through the frame sampler (every 2nd frame), all inside one
    Python pass.  Scalar projection (width/height + 4 per-kind
    features).  Oracle = golden parquet from the identical
    pure-python decode run without Spark."""
    from .spark.multimodal import extract_real_features, synth_real_media
    return extract_real_features(synth_real_media(spark, n=120))


@register("multimodal_features",
          _golden_sql("multimodal_features", per_sf=False))
def multimodal_features(spark, sf_dir):
    """Binary-payload feature extraction plumbing (the deterministic
    fake decode; schema/batching real).  Oracle = golden parquet
    produced by the same pure-python synth+decode functions without
    Spark."""
    from .spark.multimodal import extract_media_features, synth_media
    media = synth_media(spark, n=200)
    return extract_media_features(media).select(
        "media_id", "kind", "n_bytes", "payload_sha", "width", "height")


# ---------------------------------------------------------------------------
# Canonicalization in pure SQL (K6 shape with an oracle)
# ---------------------------------------------------------------------------

@register("token_minhash_canonical", f"""
    with toks as (select distinct token from ({_DUCK_TOKENS})
                  where length(token) >= 3),
    grams as (select token, unnest(g) as gram from (
        select token,
               list_transform(generate_series(1, length(token) - 2),
                              i -> substring(token, i, 3)) as g
        from toks)),
    sigs as (select token,
        {", ".join("min(" + _MD5INT_DUCK.format(x=f"'g{i}:' || gram") + f") as mh{i}" for i in range(4))}
        from grams group by token)
    select a.token as token, min(b.token) as canonical
    from sigs a join sigs b on a.mh0 = b.mh0 and a.mh1 = b.mh1
    group by a.token
""")
def token_minhash_canonical(spark, sf_dir):
    """K6 in oracle-checkable form: char-3-gram minhash signature,
    tokens agreeing on the first band canonicalize to the min token."""
    toks = (_tokens(load(spark, sf_dir, "documents"))
            .select("token").distinct()
            .filter(F.length("token") >= 3))
    from .spark.dedup import explode_once
    grams = explode_once(toks.select(
        "token",
        F.expr("transform(sequence(1, length(token) - 2), "
               "i -> substring(token, i, 3))").alias("__g")),
        ["token"], "__g", "gram")
    sigs = grams.groupBy("token").agg(*[
        F.min(F.expr(MD5INT.format(x=f"concat('g{i}:', gram)")))
        .alias(f"mh{i}") for i in range(4)])
    a, b = sigs.alias("a"), sigs.alias("b")
    return (a.join(b, (F.col("a.mh0") == F.col("b.mh0"))
                   & (F.col("a.mh1") == F.col("b.mh1")))
            .groupBy(F.col("a.token").alias("token"))
            .agg(F.min(F.col("b.token")).alias("canonical")))


# ---------------------------------------------------------------------------
# Flagship tagger/KG queries — golden-parquet oracles.
#
# The GRU-CRF tagger is not SQL-expressible, but it IS deterministic:
# the pure-python oracle engine (lacspark.engine, no Spark anywhere)
# materializes each query's expected output as a golden parquet per
# scale factor at fixture-gen time (``python -m lacspark.gen_golden``),
# and the DuckDB oracle is a plain SELECT over that file.  All
# projections are scalar (arrays exploded or joined) so the harness
# can hash them.
# ---------------------------------------------------------------------------

def _docs_subset(spark, sf_dir):
    """Every third document, the tag queries' input: memoized like
    ``load``, so ``ensure_parallelism`` plans its ``df.rdd`` once per
    session, not once per query."""
    path = f"{sf_dir}/documents.parquet"
    return memo(spark, ("docs_subset", file_identity(path)),
                lambda: load(spark, sf_dir, "documents")
                .filter(F.col("doc_id") % 3 == 0))


@register("lac_tag_documents", _golden_sql("lac_tag_documents"))
def lac_tag_documents(spark, sf_dir):
    """O2+O9: full tag+rank over documents, exploded to one row per
    word — (doc_id, word_idx, word, tag, rank)."""
    from .spark.tagger import tag_and_extract
    tagged = tag_and_extract(_docs_subset(spark, sf_dir), "text",
                             mode="rank", with_extraction=False)
    z = tagged.select(
        "doc_id", F.posexplode(F.arrays_zip("words", "tags", "ranks"))
        .alias("word_idx", "z"))
    return z.select("doc_id", "word_idx",
                    F.col("z.words").alias("word"),
                    F.col("z.tags").alias("tag"),
                    F.col("z.ranks").alias("rank"))


@register("lac_seg_documents", _golden_sql("lac_seg_documents"))
def lac_seg_documents(spark, sf_dir):
    """Seg-mode twin: (doc_id, word_idx, word)."""
    from .spark.tagger import tag_and_extract
    tagged = tag_and_extract(_docs_subset(spark, sf_dir), "text",
                             mode="seg", with_extraction=False)
    return (tagged.select(
        "doc_id", F.posexplode("words").alias("word_idx", "word")))


@register("kg_mentions", _golden_sql("kg_mentions"))
def kg_mentions(spark, sf_dir):
    from .spark.tagger import explode_mentions, tag_and_extract
    tagged = tag_and_extract(_docs_subset(spark, sf_dir), "text",
                             mode="rank")
    return explode_mentions(tagged, ["doc_id"])


@register("kg_triples", _golden_sql("kg_triples"))
def kg_triples(spark, sf_dir):
    from .spark.tagger import explode_triples, tag_and_extract
    tagged = tag_and_extract(_docs_subset(spark, sf_dir), "text",
                             mode="rank")
    return explode_triples(tagged, ["doc_id"])


@register("kg_entity_linking", _golden_sql("kg_entity_linking"))
def kg_entity_linking(spark, sf_dir):
    from .spark.canonical import canonical_map
    from .spark.tagger import explode_mentions, tag_and_extract
    tagged = tag_and_extract(_docs_subset(spark, sf_dir), "text",
                             mode="rank")
    mentions = explode_mentions(tagged, ["doc_id"])
    return canonical_map(mentions).select("form", "canonical", "entity_id")


@register("kg_vertices", _golden_sql("kg_vertices"))
def kg_vertices(spark, sf_dir):
    """Aliases serialized with '|' so every column is scalar."""
    from .spark.canonical import canonical_map
    from .spark.graph import build_vertices
    from .spark.tagger import explode_mentions, tag_and_extract
    tagged = tag_and_extract(_docs_subset(spark, sf_dir), "text",
                             mode="rank")
    mentions = explode_mentions(tagged, ["doc_id"]).cache()
    v = build_vertices(mentions, canonical_map(mentions))
    return v.select("entity_id", "canonical", "n_mentions", "salience",
                    F.array_join("aliases", "|").alias("alias_list"),
                    "n_tags", "top_tag")


@register("kg_edges", _golden_sql("kg_edges"))
def kg_edges(spark, sf_dir):
    from .spark.canonical import canonical_map
    from .spark.graph import build_edges
    from .spark.tagger import (explode_mentions, explode_triples,
                               tag_and_extract)
    tagged = tag_and_extract(_docs_subset(spark, sf_dir), "text",
                             mode="rank").cache()
    mentions = explode_mentions(tagged, ["doc_id"])
    triples = explode_triples(tagged, ["doc_id"])
    return build_edges(triples, canonical_map(mentions))


@register("mention_salience_topk", _golden_sql("mention_salience_topk"))
def mention_salience_topk_q(spark, sf_dir):
    from .spark.kg import mention_salience_topk
    from .spark.tagger import explode_mentions, tag_and_extract
    tagged = tag_and_extract(_docs_subset(spark, sf_dir), "text",
                             mode="rank")
    mentions = explode_mentions(tagged, ["doc_id"])
    return mention_salience_topk(mentions, ["doc_id"], k=5)


# ---------------------------------------------------------------------------
# Gate-window suites (VERDICT r5 item 6): the registry outgrew the
# driver gate's 50-row window, so the cheapest LONG-STABLE queries ride
# the gate folded into two union suites — every member's full typed
# result is still value-hashed every round (mapped into a shared slot
# schema with a discriminator), while the per-member queries stay in
# SPARK_QUERIES for pytest's full Spark≡DuckDB contract run
# (tests/test_driver_contract.py) and for users.  __spark_entry__
# excludes the folded members from the GATE registry only.
# ---------------------------------------------------------------------------

# shared slot schema: discriminator + typed nullable slots.  Ints ride
# bigint, floats double (bit-exact cross-engine, BASELINE.md); keys as
# varchar.  Casting int->varchar is locale-free and identical in both
# engines, but native typed slots avoid string-formatting doubles
# (which is NOT identical cross-engine and must never happen here).
_SLOTS = (("k1", "string"), ("k2", "string"),
          ("i1", "bigint"), ("i2", "bigint"), ("i3", "bigint"),
          ("i4", "bigint"), ("d1", "double"), ("d2", "double"),
          ("d3", "double"))
_DUCK_SLOT_T = {"string": "VARCHAR", "bigint": "BIGINT",
                "double": "DOUBLE"}


def _slot_df(df, part: str, **m):
    cols = [F.lit(part).alias("part")]
    for nm, typ in _SLOTS:
        src = m.get(nm)
        cols.append((F.col(src) if src else F.lit(None))
                    .cast(typ).alias(nm))
    return df.select(*cols)


def _slot_sql(member_sql: str, part: str, **m) -> str:
    exprs = [f"'{part}' as part"]
    for nm, typ in _SLOTS:
        src = m.get(nm, "NULL")
        exprs.append(f"cast({src} as {_DUCK_SLOT_T[typ]}) as {nm}")
    return ("select " + ", ".join(exprs)
            + f" from (\n{member_sql}\n)")


# (member, spark-col->slot map) — slot maps are identical on both
# sides because every member aliases its columns identically in Spark
# and SQL already (the driver-gate contract).
_RELATIONAL_FOLD = [
    ("tpch_q1_pricing", dict(k1="l_returnflag", k2="l_linestatus",
                             d1="sum_qty", d2="sum_base_price",
                             d3="sum_disc_price", i1="count_order")),
    ("orders_by_nation", dict(k1="nation", i1="n_orders", d1="revenue")),
    ("top_orders_per_customer", dict(i1="o_custkey", i2="o_orderkey",
                                     i3="rnk")),
    ("events_tumbling_minute", dict(k1="event_type", i1="window_start",
                                    i2="n_events", d1="sum_value")),
    ("lineitem_part_supplier", dict(k1="brand", i1="nationkey",
                                    i2="n_items", d1="volume")),
    ("events_sessionize", dict(i1="user_id", i2="session_id",
                               i3="n_events")),
    ("orders_rollup", dict(k1="priority", k2="status", i1="n",
                           d1="total")),
    ("customers_set_ops", dict(k1="bucket", i1="n")),
    ("orders_running_total", dict(i1="o_custkey", i2="o_orderkey",
                                  d1="running_total")),
]

_DOCMETA_FOLD = [
    ("doc_token_stats", dict(i1="doc_id", i2="n_tokens",
                             i3="n_distinct", i4="n_chars")),
    ("token_class_counts", dict(i1="doc_id", i2="n_alpha", i3="n_num",
                                i4="n_bpe_ish")),
    ("lang_id_heuristic", dict(i1="doc_id", k1="lang_pred")),
    ("quality_score", dict(i1="doc_id", i2="len_bucket", i3="punct_pct",
                           i4="stopword_chars", k1="is_quality")),
]


def _fold_sql(fold) -> str:
    return "\nunion all\n".join(
        _slot_sql(ORACLE_SQL[name], name, **m) for name, m in fold)


def _fold_spark(spark, sf_dir, fold):
    out = None
    for name, m in fold:
        part = _slot_df(SPARK_QUERIES[name](spark, sf_dir), name, **m)
        out = part if out is None else out.unionByName(part)
    return out


@register("relational_suite", _fold_sql(_RELATIONAL_FOLD))
def relational_suite(spark, sf_dir):
    """All nine relational/windowed demo operators (stable since r1)
    in one gate entry: each member's FULL result rides a typed slot
    row tagged with the member name, so the driver still value-hashes
    every member every round while the registry fits the gate
    window."""
    return _fold_spark(spark, sf_dir, _RELATIONAL_FOLD)


@register("docmeta_suite", _fold_sql(_DOCMETA_FOLD))
def docmeta_suite(spark, sf_dir):
    """Per-document metadata operators (token stats, token classes,
    language-ID heuristic, quality score) folded into one gate entry —
    same slot scheme as relational_suite."""
    return _fold_spark(spark, sf_dir, _DOCMETA_FOLD)
