"""SparkSession factory with the engine's scale posture baked in.

AQE (coalesce + skew-join split), Arrow-batched python UDF transfer
(the reference's LoD ragged batching ≙ Arrow list arrays, SURVEY §4.1),
and a shuffle-partition default sized for local[N] testing.  On a real
cluster the same builder runs under spark-submit --py-files with
executor counts supplied externally.

The compiled-code cache is sized to the program.  Spark SQL compiles
each plan's stages to Java at run time (Janino) and keeps the classes
in a cache of ``spark.sql.codegen.cache.maxEntries`` entries, 100 by
default.  One warm ``query_mix`` pass of the benchmark needs 112
classes, one ``kg`` unit 110, and the 67 registered queries at sf0.001
765; at 100 the cache evicts classes before their next use, and every
warm pass compiles most of its code again.  The conf is static (read
once per JVM, when the cache is built), so it is set on the builder.
It pays only where plans run again in one JVM: a plan's first run
compiles as many classes as before, and a session that
``getOrCreate`` finds already running keeps its own size.

``local_frame`` is how driver-side Python rows become a DataFrame: an
Arrow table in the given schema, planned as a ``LocalRelation``.
Evaluating it starts no Python task, where ``createDataFrame`` over
Python rows plans a pickled Python RDD that runs one Python task per
partition every time it is evaluated.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# the directory holding the ``lacspark`` package
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


def get_spark(app_name: str = "lacspark", cores: int | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * cores, 32)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # keep empty stages in the adaptive plan: where AQE cuts one
        # out (or a join with an empty side), an Observation under it
        # completes with an empty Row and the cap audit loses counts
        .config("spark.sql.adaptive.optimizer.excludedRules",
                "org.apache.spark.sql.execution.adaptive."
                "AQEPropagateEmptyRelation")
        # about 2.6x the 765 classes of the 67 registered queries at
        # sf0.001 (module docstring); static: the JVM's first session
        # sets it
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch size is the engine's batching knob (≙ the
        # reference's LoD batch size); ~1k rows keeps the numpy
        # working set cache-resident inside the UDF.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        .config("spark.driver.memory", os.environ.get("LACSPARK_DRIVER_MEM", "8g"))
        .config("spark.sql.session.timeZone", "UTC")
        # bucket replay overwrites only the partitions it touches —
        # makes pipeline re-runs idempotent after a mid-write crash
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # session-catalog managed tables (catalog.py tier 2) live
        # outside the repo working tree
        .config("spark.sql.warehouse.dir",
                os.environ.get("LACSPARK_WAREHOUSE",
                               "/tmp/lacspark-warehouse"))
        # single math thread per python worker: Spark already
        # parallelizes by partition (≙ SetCpuMathLibraryNumThreads(1),
        # c++/src/lac.cpp:46)
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        # fork workers from a daemon that has pandas/pyarrow/numpy and
        # the engine stack ALREADY imported (copy-on-write): a cold
        # 32-way python stage otherwise runs 32 simultaneous ~0.5 s
        # import chains — the dominant term of every cold UDF stage
        # (lacspark.spark.py_daemon; public knob, worker loop
        # unchanged)
        .config("spark.python.daemon.module", "lacspark.spark.py_daemon")
        # ...which the daemon can import only with lacspark on its
        # path: it starts in the executor's working directory (the
        # driver's, in local mode), which need not hold the package
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_frame(spark: SparkSession, rows, schema: str | T.StructType
                ) -> DataFrame:
    """``rows`` (tuples or Rows, in ``schema``'s field order) as a
    DataFrame planned as a ``LocalRelation``.  ``schema`` is a DDL
    string or a ``StructType``.  The rows become a ``pyarrow.Table``
    in that schema; a value that does not fit its field's type raises
    here, since the Arrow-table path has no fallback."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema)
    return spark.createDataFrame(table, schema=schema)
