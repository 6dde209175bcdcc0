"""Table IO shim: Iceberg when a catalog is configured, parquet
otherwise.

The north rule targets Iceberg tables (snapshot-atomic commits turn
the pipeline's per-bucket replay into exactly-once instead of
dynamic-partition-overwrite's best-effort).  This sandbox has no
Iceberg runtime jar, so the shim selects by inspecting the session:
`spark.sql.catalog.<name>` configured → `writeTo(...)` V2 path;
otherwise plain parquet paths.  Call sites never branch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def iceberg_catalog(spark: SparkSession) -> str | None:
    """Name of the first configured V2 catalog, or None."""
    for k, _ in spark.sparkContext.getConf().getAll():
        if k.startswith("spark.sql.catalog.") and k.count(".") == 3:
            return k.rsplit(".", 1)[1]
    return None


def _is_fs_path(location: str) -> bool:
    """A location like '/tmp/out' or 's3://bucket/x' is a filesystem
    path, not a catalog namespace — it must take the parquet branch
    even when a V2 catalog is configured, or write_table would build
    an invalid identifier like 'cat./tmp/out.files' while readers use
    the path.  Namespaces are dotted identifiers without separators."""
    return ("/" in location or "\\" in location or ":" in location
            or location.startswith("."))


def write_table(df: DataFrame, location: str, table: str,
                mode: str = "append",
                partition_by: list[str] | None = None) -> None:
    """Write df as a managed table or a parquet path — three tiers,
    call sites never branch:

    1. V2 catalog configured + namespace location →
       ``writeTo(<catalog>.<ns>.<table>)`` (Iceberg in production;
       snapshot-atomic commits).
    2. No V2 catalog + namespace location → SESSION-catalog managed
       table (``saveAsTable``) — a real, executable catalog path in
       this sandbox, same identifier shape as tier 1.
    3. Filesystem-path location → plain parquet, so writers and
       readers always agree on paths."""
    spark = df.sparkSession
    if not _is_fs_path(location):
        cat = iceberg_catalog(spark)
        if cat:
            ident = (f"{cat}.{location}.{table}" if location
                     else f"{cat}.{table}")
            writer = df.writeTo(ident)
            if mode == "overwrite":
                writer.createOrReplace()
            else:
                try:
                    writer.append()
                except Exception:
                    writer.create()
            return
        if location:
            spark.sql(f"create database if not exists {location}")
        ident = f"{location}.{table}" if location else table
        orphan = _orphaned_location(spark, location, table)
        w = df.write.mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        if orphan:
            w.parquet(orphan)   # keep reading/writing the same files
        else:
            w.saveAsTable(ident)
        return
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(f"{location}/{table}")


def _orphaned_location(spark: SparkSession, location: str,
                       table: str) -> str | None:
    """Session-catalog tier only: the in-memory catalog forgets table
    METADATA across processes while the warehouse LOCATION survives,
    so a naive rerun would hit LOCATION_ALREADY_EXISTS (a persistent
    metastore — Hive/Iceberg in production — never orphans).  When
    the table is unknown but its warehouse directory exists, return
    that directory: callers transparently fall back to parquet path
    IO against it (partition discovery included), so jobs rerun and
    resume across sessions with the same data files."""
    import os

    ident = f"{location}.{table}" if location else table
    try:
        if spark.catalog.tableExists(ident):
            return None
    except Exception:
        return None
    wh = spark.conf.get("spark.sql.warehouse.dir")
    wh = wh[len("file:"):] if wh.startswith("file:") else wh
    loc = os.path.join(wh, f"{location}.db" if location else "", table)
    return loc if os.path.exists(loc) else None


def read_table(spark: SparkSession, location: str, table: str,
               schema: StructType | None = None) -> DataFrame:
    """Read back what ``write_table`` wrote.  A parquet read given the
    written frame's ``schema`` starts no job; without one, Spark runs
    a job to read a footer for the schema.  Catalog tables carry
    their own schema."""
    reader = spark.read.schema(schema) if schema else spark.read
    if not _is_fs_path(location):
        cat = iceberg_catalog(spark)
        if not cat:
            orphan = _orphaned_location(spark, location, table)
            if orphan:
                return reader.parquet(orphan)
        ident = (f"{cat}.{location}.{table}" if cat else
                 f"{location}.{table}") if location else \
            (f"{cat}.{table}" if cat else table)
        return spark.read.table(ident)
    return reader.parquet(f"{location}/{table}")
