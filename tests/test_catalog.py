"""Table IO shim tiers (catalog.py): filesystem paths → parquet;
namespace locations → SESSION-catalog managed tables (the in-sandbox
stand-in for the production Iceberg catalog — same identifier shape,
same call sites)."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from lacspark.spark.catalog import read_table, write_table


@pytest.fixture()
def clean_ns(spark):
    """Drop the test namespace AND its warehouse directory — the
    in-memory session catalog forgets tables across sessions but
    their directories persist, and saveAsTable refuses to reuse a
    location."""
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("t2", "mentions"):
        spark.sql(f"drop table if exists lac_test_ns.{t}")
    shutil.rmtree(f"{wh}/lac_test_ns.db", ignore_errors=True)
    yield
    for t in ("t2", "mentions"):
        spark.sql(f"drop table if exists lac_test_ns.{t}")


def test_fs_path_round_trips_parquet(spark, tmp_path):
    df = spark.range(10).withColumn("v", F.col("id") * 2)
    write_table(df, str(tmp_path), "t1", mode="overwrite")
    back = read_table(spark, str(tmp_path), "t1")
    assert back.count() == 10
    assert (tmp_path / "t1").exists()


def _jobs_of(spark, fn) -> int:
    """The number of Spark jobs ``fn()`` starts, read from the status
    tracker through a job group of its own."""
    import uuid

    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "job count probe")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_fs_read_with_schema_starts_no_job(spark, tmp_path):
    """A partitioned parquet read given the written frame's schema
    starts no job; without it Spark runs one to infer the schema."""
    df = spark.range(40).withColumn("bucket", (F.col("id") % 4).cast("int"))
    write_table(df, str(tmp_path), "t3", mode="overwrite",
                partition_by=["bucket"])
    assert _jobs_of(spark, lambda: read_table(
        spark, str(tmp_path), "t3", df.schema)) == 0
    assert _jobs_of(spark, lambda: read_table(
        spark, str(tmp_path), "t3")) >= 1
    back = read_table(spark, str(tmp_path), "t3", df.schema)
    assert sorted(back.collect()) == sorted(
        read_table(spark, str(tmp_path), "t3").collect())


def test_namespace_round_trips_managed_table(spark, clean_ns):
    df = spark.range(7).withColumn("bucket", F.col("id") % 2)
    write_table(df, "lac_test_ns", "t2", mode="overwrite",
                partition_by=["bucket"])
    back = read_table(spark, "lac_test_ns", "t2")
    assert back.count() == 7
    assert spark.catalog.tableExists("lac_test_ns.t2")
    # append accumulates through the catalog, not a path
    write_table(spark.range(3).withColumn("bucket", F.lit(0)),
                "lac_test_ns", "t2", mode="append",
                partition_by=["bucket"])
    assert read_table(spark, "lac_test_ns", "t2").count() == 10
    spark.sql("drop table lac_test_ns.t2")


def test_pipeline_runs_against_session_catalog(spark, clean_ns):
    """The KG pipeline's table writes go through the shim — pointed
    at a namespace they land as managed tables and the graph
    materialize reads them back through the same catalog."""
    from lacspark.spark.catalog import iceberg_catalog
    assert iceberg_catalog(spark) is None  # sandbox: tier 2 applies
    df = spark.createDataFrame(
        [(i, f"m{i % 3}", "n", i % 4) for i in range(20)],
        "doc_id long, word string, tag string, rank int")
    write_table(df, "lac_test_ns", "mentions", mode="overwrite")
    back = read_table(spark, "lac_test_ns", "mentions")
    agg = back.groupBy("word").count().collect()
    assert sum(r["count"] for r in agg) == 20
    spark.sql("drop table lac_test_ns.mentions")


def test_orphaned_location_survives_catalog_loss(spark, clean_ns):
    """The in-memory session catalog loses table metadata across
    processes while the warehouse directory survives.  The shim must
    keep reading AND writing such orphaned locations (this is what
    lets a namespace-output KG job rerun + lineage-resume across
    sessions; a persistent metastore never orphans)."""
    import os

    # simulate a prior process's managed table whose metadata died
    # with the in-memory catalog: the warehouse files exist, the
    # catalog has never heard of the table
    df = spark.range(6).withColumn("bucket", F.col("id") % 2)
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    df.write.mode("overwrite").partitionBy("bucket") \
        .parquet(f"{wh}/lac_test_ns.db/t2")
    assert not spark.catalog.tableExists("lac_test_ns.t2")
    assert os.path.exists(f"{wh}/lac_test_ns.db/t2")
    back = read_table(spark, "lac_test_ns", "t2")
    assert back.count() == 6
    assert "bucket" in back.columns        # partition discovery works
    write_table(spark.range(2).withColumn("bucket", F.lit(1)),
                "lac_test_ns", "t2", mode="append",
                partition_by=["bucket"])
    assert read_table(spark, "lac_test_ns", "t2").count() == 8


def test_bucketed_tables_join_without_exchange(spark, clean_ns):
    """bucketBy co-location: two tables bucketed+sorted on the join
    key must sort-merge-join with NO Exchange in the plan — the
    pre-shuffle that turns every future doc_id join into a local
    merge at corpus scale."""
    spark.sql("create database if not exists lac_test_ns")
    for t in ("bk_a", "bk_b"):
        spark.sql(f"drop table if exists lac_test_ns.{t}")
    spark.range(0, 1000).withColumn("v", F.col("id") * 2) \
        .write.mode("overwrite").bucketBy(8, "id").sortBy("id") \
        .saveAsTable("lac_test_ns.bk_a")
    spark.range(0, 1000).withColumn("w", F.col("id") + 1) \
        .write.mode("overwrite").bucketBy(8, "id").sortBy("id") \
        .saveAsTable("lac_test_ns.bk_b")
    # the point is the shuffle-free SMJ path, so stop the tiny test
    # tables from taking the broadcast shortcut
    confs = {"spark.sql.autoBroadcastJoinThreshold": "-1",
             "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1"}
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        j = spark.table("lac_test_ns.bk_a").join(
            spark.table("lac_test_ns.bk_b"), "id")
        assert j.count() == 1000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    for t in ("bk_a", "bk_b"):
        spark.sql(f"drop table lac_test_ns.{t}")


# ---------------------------------------------------------------------------
# V2 (Iceberg) branch via a FAKE catalog: no Iceberg jar ships in this
# sandbox, so the writeTo()/read.table() tier is asserted against
# mocks — identifier construction, mode mapping, first-write fallback,
# and read/write symmetry must all match what a real catalog would see.
# ---------------------------------------------------------------------------

def _fake_v2_spark():
    from unittest.mock import MagicMock

    spark = MagicMock(name="spark")
    spark.sparkContext.getConf().getAll.return_value = [
        ("spark.sql.catalog.icecat",
         "org.apache.iceberg.spark.SparkCatalog"),
        ("spark.sql.catalog.icecat.type", "hadoop"),  # 4 dots: skipped
        ("spark.master", "local[8]"),
    ]
    return spark


def test_v2_catalog_detection_ignores_sub_keys():
    from lacspark.spark.catalog import iceberg_catalog

    assert iceberg_catalog(_fake_v2_spark()) == "icecat"


def test_v2_write_identifier_and_modes():
    from unittest.mock import MagicMock

    from lacspark.spark.catalog import write_table

    spark = _fake_v2_spark()
    df = MagicMock(name="df")
    df.sparkSession = spark

    write_table(df, "kgns", "edges", mode="overwrite")
    df.writeTo.assert_called_once_with("icecat.kgns.edges")
    df.writeTo.return_value.createOrReplace.assert_called_once()

    df.reset_mock()
    write_table(df, "", "edges", mode="append")
    df.writeTo.assert_called_once_with("icecat.edges")
    df.writeTo.return_value.append.assert_called_once()


def test_v2_append_falls_back_to_create_on_first_write():
    from unittest.mock import MagicMock

    from lacspark.spark.catalog import write_table

    spark = _fake_v2_spark()
    df = MagicMock(name="df")
    df.sparkSession = spark
    writer = df.writeTo.return_value
    writer.append.side_effect = Exception("table not found")
    write_table(df, "kgns", "edges", mode="append")
    writer.append.assert_called_once()
    writer.create.assert_called_once()


def test_v2_read_write_identifiers_symmetric():
    from unittest.mock import MagicMock

    from lacspark.spark.catalog import read_table, write_table

    spark = _fake_v2_spark()
    df = MagicMock(name="df")
    df.sparkSession = spark
    for loc, tbl in [("kgns", "vertices"), ("", "vertices")]:
        df.reset_mock()
        spark.reset_mock()
        write_table(df, loc, tbl, mode="overwrite")
        wrote = df.writeTo.call_args[0][0]
        read_table(spark, loc, tbl)
        read = spark.read.table.call_args[0][0]
        assert wrote == read, (wrote, read)


def test_v2_fs_path_bypasses_catalog():
    """A filesystem location must take the parquet branch even with a
    V2 catalog configured — writers and readers agree on paths."""
    from unittest.mock import MagicMock

    from lacspark.spark.catalog import read_table, write_table

    spark = _fake_v2_spark()
    df = MagicMock(name="df")
    df.sparkSession = spark
    write_table(df, "/tmp/out", "edges", mode="overwrite",
                partition_by=["bucket"])
    df.writeTo.assert_not_called()
    w = df.write.mode.return_value.partitionBy.return_value
    w.parquet.assert_called_once_with("/tmp/out/edges")
    read_table(spark, "/tmp/out", "edges")
    spark.read.parquet.assert_called_once_with("/tmp/out/edges")
