"""SparkSession factory with the engine's scale posture baked in.

Arrow-batched python UDF transfer (the reference's LoD ragged batching
≙ Arrow list arrays, SURVEY §4.1) and a shuffle-partition default
sized for local[N] testing.  AQE (coalesce + skew-join split) runs at
Spark's defaults, on since 3.2; the builder only keeps its empty-stage
rule out, for the cap audit.  ``local[cores]`` is the master only if
``get_spark`` launches the JVM: on a real cluster the builder runs
under spark-submit --py-files, whose ``--master`` and executors hold.
``cores`` defaults to ``$SPARK_GRAFT_CPUS``, else to the number of
CPUs the process may run on.

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

``python_pass`` is how a row-wise Python computation runs on the
workers: one ``mapInArrow`` over only the columns the pass reads or
keeps, its new fields built as Arrow arrays in Spark's own type
mapping.  Every Python pass of the program goes through it, except
the two that are not row-wise (``train_full.spark_grads`` reduces a
partition to one row; ``streaming.streaming_dedup`` keeps
state across micro-batches).

The driver JVM starts from a class-data archive.  A cold session
loads about 14.5k classes, 9.5k of them in its first query, each
parsed and verified from the jars.  ``get_spark`` launches the JVM
with a JDK 17 dynamic AppCDS archive of those classes: the first
launch on a machine writes one at JVM exit
(``-XX:ArchiveClassesAtExit``), and later launches map it
(``-XX:SharedArchiveFile``).  That cuts the CPU of the session start
by about 40% and of its first query by about a third (4 vCPUs).  The
archive lives in ``${XDG_CACHE_HOME:-~/.cache}/lacspark/cds``, named
by a key of the JDK build, the listing of ``$SPARK_HOME/jars`` and
the conf path; deleting that directory resets it.  The JVM neither
writes nor maps an archive while a non-empty directory is on its
classpath, and Spark's launcher puts the conf directory first on it,
so the launch points ``SPARK_CONF_DIR`` at an empty directory in the
cache when the real one holds nothing but ``*.template`` files.  No
archive is used, and nothing changes, when the JVM is already running
(``spark-submit``, a second session), when the conf directory holds a
real file, when the launcher would put more on the classpath, when
the caller's Java options choose their own sharing, or when the cache
cannot be written.  A missing, stale or damaged archive gives the
start Spark would make.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import shutil
import struct
import time
import uuid
from typing import Callable, Iterable, Iterator

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# the directory holding the ``lacspark`` package
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


def get_spark(app_name: str = "lacspark", cores: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS",
                                   len(os.sched_getaffinity(0))))
    # whether this call starts the JVM (not spark-submit's, not reused)
    launches = SparkContext._gateway is None and \
        "PYSPARK_GATEWAY_PORT" not in os.environ
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(2 * cores, 32)))
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
    if launches:
        builder = builder.master(f"local[{cores}]")
    extra_conf = extra_conf or {}
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    with _class_data_archive(extra_conf, launches) as java_opts:
        if java_opts is not None:
            builder = builder.config("spark.driver.extraJavaOptions",
                                     java_opts)
        return builder.getOrCreate()


# the first 4 bytes of a finished dynamic archive (JDK 17's
# CDS_DYNAMIC_ARCHIVE_MAGIC, in the machine's byte order); the JVM
# writes the header after every region, so a cut-short dump has none
_ARCHIVE_MAGIC = struct.pack("=I", 0xF00BABA8)
# a dump still without its header after this long was cut short
_DUMP_GIVEN_UP_S = 600
# the JVM logs CDS warnings to stdout, where a job prints its result;
# keep only errors, on stderr
_CDS_LOG = "-Xlog:cds*=off -Xlog:cds*=error:stderr"
# launcher inputs that put more entries on the JVM's classpath
_CLASSPATH_ENV = ("SPARK_CLASSPATH", "SPARK_DIST_CLASSPATH",
                  "HADOOP_CONF_DIR", "YARN_CONF_DIR")


@contextlib.contextmanager
def _class_data_archive(conf: dict, launches: bool) -> Iterator[str | None]:
    """Around the session's creation: the driver's Java options with
    the class-data archive flag appended, or ``None`` to launch as
    Spark would (module docstring) or where this call ``launches`` no
    JVM.  ``SPARK_CONF_DIR`` points at the empty stand-in in the block."""
    launch = None
    if launches:
        try:
            launch = _plan_archive(conf)
        except OSError:  # the cache cannot be read or written
            pass
    if launch is None:
        yield None
        return
    conf_dir, java_opts = launch
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = conf_dir
    try:
        yield java_opts
    finally:
        if saved is None:
            os.environ.pop("SPARK_CONF_DIR", None)
        else:
            os.environ["SPARK_CONF_DIR"] = saved


def _plan_archive(extra_conf: dict) -> tuple[str, str] | None:
    """The stand-in conf directory and the caller's Java options with
    the flag that maps this machine's archive appended, or the flag
    that dumps one at exit when there is none yet; ``None`` where an
    archive cannot be used."""
    from pyspark.find_spark_home import _find_spark_home

    java_opts = extra_conf.get("spark.driver.extraJavaOptions", "")
    if any(f in java_opts for f in
           ("-Xshare", "SharedArchiveFile", "ArchiveClassesAtExit")):
        return None
    if "spark.driver.extraClassPath" in extra_conf or \
            any(os.environ.get(v) for v in _CLASSPATH_ENV):
        return None
    spark_home = _find_spark_home()
    conf = os.environ.get("SPARK_CONF_DIR") or \
        os.path.join(spark_home, "conf")
    if os.path.isdir(conf) and not all(
            name.endswith(".template") for name in os.listdir(conf)):
        return None
    cache = os.path.join(os.environ.get("XDG_CACHE_HOME")
                         or os.path.expanduser("~/.cache"),
                         "lacspark", "cds")
    stand_in = os.path.join(cache, "conf")
    os.makedirs(stand_in, exist_ok=True)
    java = _java_binary()
    if java is None or os.listdir(stand_in):
        return None
    key = _archive_key(java, spark_home, stand_in)
    archive = os.path.join(cache, f"{key}.jsa")
    _tidy_archives(cache, key)
    if _is_archive(archive):
        flag = f"-XX:SharedArchiveFile={archive}"
    elif os.access(cache, os.W_OK):
        # each launch dumps to its own name; a later launch promotes it
        flag = "-XX:ArchiveClassesAtExit=" + os.path.join(
            cache, f"{key}.{os.getpid()}-{uuid.uuid4().hex}.tmp")
    else:
        return None
    return stand_in, f"{java_opts} {flag} {_CDS_LOG}".strip()


def _java_binary() -> str | None:
    """The ``java`` Spark's launcher runs, resolved."""
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home \
        else shutil.which("java")
    return os.path.realpath(java) if java else None


def _archive_key(java: str, spark_home: str, stand_in: str) -> str:
    """A name that changes whenever the JVM would reject the archive:
    the JDK build, the jars on the classpath and the conf path."""
    h = hashlib.sha256(f"{java}\0{stand_in}\0".encode())
    with contextlib.suppress(OSError), open(os.path.join(
            os.path.dirname(os.path.dirname(java)), "release"), "rb") as fh:
        h.update(fh.read())
    jars = sorted(os.scandir(os.path.join(spark_home, "jars")),
                  key=lambda e: e.name)
    for e in jars:
        st = e.stat()
        h.update(f"{e.name}\0{st.st_size}\0{st.st_mtime_ns}\0".encode())
    return h.hexdigest()[:16]


def _is_archive(path: str) -> bool:
    """Whether ``path`` is a finished dynamic archive."""
    try:
        with open(path, "rb") as fh:
            return fh.read(4) == _ARCHIVE_MAGIC
    except OSError:
        return False


def _tidy_archives(cache: str, key: str) -> None:
    """Promote this key's largest finished dump (the one holding the
    most classes) to its archive, delete dumps that were cut short,
    and once an archive is promoted, every other finished file: the
    other dumps and the archives of other keys.  A file another
    launch removed first is skipped."""
    archive = os.path.join(cache, f"{key}.jsa")
    finished = {}
    for name in os.listdir(cache):
        path = os.path.join(cache, name)
        if not name.endswith(".tmp"):
            continue
        with contextlib.suppress(FileNotFoundError):
            if _is_archive(path):
                if name.startswith(f"{key}."):
                    finished[path] = os.path.getsize(path)
            elif time.time() - os.path.getmtime(path) > _DUMP_GIVEN_UP_S:
                os.remove(path)
    if not finished:
        return
    with contextlib.suppress(FileNotFoundError):
        os.replace(max(finished, key=finished.get), archive)
    for name in os.listdir(cache):
        path = os.path.join(cache, name)
        if path != archive and _is_archive(path):
            with contextlib.suppress(FileNotFoundError):
                os.remove(path)


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


def python_pass(df: DataFrame, reads: list[str],
                fields: list[T.StructField],
                fn: Callable[..., Iterable[tuple | None]],
                keep: list[str] | None = None) -> DataFrame:
    """``df``'s ``keep`` columns (default: all) with ``fields``
    appended, computed in Python by one ``mapInArrow``.

    ``fn`` gets each Arrow batch's ``reads`` columns as Python lists
    and returns one output row per input row: a tuple of the values
    of ``fields``, in order, or ``None`` to drop that row.  Only the
    ``keep`` and ``reads`` columns cross to Python; kept columns
    travel back as the batch's own Arrow arrays, untouched.  A field
    named like a kept column replaces that column in its position.
    The output arrays take Spark's type mapping (``to_arrow_type``)
    of their fields."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    keep = list(df.columns if keep is None else keep)
    df = df.select(*keep, *[c for c in reads if c not in keep])
    by_name = {f.name: f for f in fields}
    out_fields = [by_name.get(c, df.schema[c]) for c in keep]
    out_fields += [f for f in fields if f.name not in keep]
    names = [f.name for f in out_fields]
    types = [to_arrow_type(f.dataType) for f in fields]
    read_at = [df.columns.index(c) for c in reads]

    def run(batches):
        for b in batches:
            rows = list(fn(*(b.column(i).to_pylist() for i in read_at)))
            live = [r is not None for r in rows]
            if not all(live):
                b = b.filter(pa.array(live, pa.bool_()))
                rows = [r for r in rows if r is not None]
            cols = list(zip(*rows)) or [()] * len(fields)
            new = {f.name: pa.array(c, t)
                   for f, c, t in zip(fields, cols, types)}
            arrays = [new.pop(c) if c in new else b.column(i)
                      for i, c in enumerate(keep)]
            yield pa.RecordBatch.from_arrays(arrays + list(new.values()),
                                             names=names)

    return df.mapInArrow(run, schema=T.StructType(out_fields))
