"""Session factory: Python workers run wherever the driver starts,
a task does not re-read unchanged zip archives, driver-side rows
become LocalRelations, and a re-run plan reuses its compiled code."""

from __future__ import annotations

import ast
import os
import random
import subprocess
import sys

import pandas as pd
from pyspark.sql import functions as F

from lacspark.spark import canonical, catalog
from lacspark.spark.canonical import canonical_map
from lacspark.spark.pipeline import run_pipeline
from lacspark.spark.repos_files import synth_repos_files
from lacspark.spark.session import local_frame

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_python_workers_start_outside_the_repo(tmp_path):
    """A driver that finds lacspark through ``sys.path`` alone, run
    from a directory that does not hold the package, must still get
    working Python workers: their daemon module is
    ``lacspark.spark.py_daemon``."""
    script = f"""
import sys
sys.path.insert(0, {REPO!r})
from lacspark.spark.session import get_spark
spark = get_spark(app_name="daemon-cwd", cores=1, shuffle_partitions=1,
                  extra_conf={{"spark.ui.enabled": "false"}})
df = spark.range(4).mapInPandas(lambda it: (p * 2 for p in it), "id long")
print(sorted(r.id for r in df.collect()))
spark.stop()
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["LACSPARK_DRIVER_MEM"] = "1g"
    out = subprocess.run([sys.executable, "-c", script], cwd=tmp_path,
                         env=env, capture_output=True, text=True,
                         timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.strip().splitlines()[-1] == "[0, 2, 4, 6]"


def test_daemon_preload_starts_only_jemalloc_thread():
    """The worker daemon forks after its preload, and a thread alive at
    a fork is not copied into the child.  After the preload the daemon
    holds exactly its main thread and pyarrow's jemalloc background
    thread; a preload that starts any other native thread (OpenBLAS
    workers among them, with the BLAS thread env vars unset) fails
    here.  ``threading`` cannot see native threads, so the names come
    from ``/proc/self/task``."""
    script = """
import os
import lacspark.spark.py_daemon
names = [open(f"/proc/self/task/{t}/comm").read().strip()
         for t in os.listdir("/proc/self/task")]
print(open("/proc/self/comm").read().strip(), sorted(names))
"""
    env = {k: v for k, v in os.environ.items() if k not in (
        "OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS")}
    out = subprocess.run([sys.executable, "-c", script], cwd=REPO,
                         env=env, capture_output=True, text=True,
                         timeout=120)
    assert out.returncode == 0, out.stderr[-3000:]
    main, names = out.stdout.split(" ", 1)
    assert ast.literal_eval(names) == sorted([main, "jemalloc_bg_thd"])

def _zip_rereads(batches):
    """Runs in a Python worker: the zip directory reads one
    ``importlib.invalidate_caches()`` makes over the worker's own
    importers, then whether a zip rewritten with a new module is
    re-read so that the module imports."""
    import importlib
    import shutil
    import tempfile
    import uuid
    import zipfile
    import zipimport

    for _ in batches:
        pass
    first, second = (f"zr_{uuid.uuid4().hex}_{i}" for i in range(2))
    tmp = tempfile.mkdtemp()
    path = os.path.join(tmp, "probe.zip")
    reads = [0]
    stock_read = zipimport._read_directory

    def counting_read(archive):
        reads[0] += 1
        return stock_read(archive)

    zipimport._read_directory = counting_read
    try:
        importlib.invalidate_caches()
        unchanged = reads[0]
        with zipfile.ZipFile(path, "w") as z:
            z.writestr(f"{first}.py", "X = 1\n")
        sys.path.insert(0, path)
        importlib.import_module(first)
        with zipfile.ZipFile(path, "w") as z:
            z.writestr(f"{first}.py", "X = 1\n")
            z.writestr(f"{second}.py", "X = 2\n")
        importlib.invalidate_caches()
        imported = importlib.import_module(second).X == 2
    finally:
        zipimport._read_directory = stock_read
        sys.path[:] = [p for p in sys.path if p != path]
        sys.path_importer_cache.pop(path, None)
        shutil.rmtree(tmp)
    yield pd.DataFrame({"unchanged_reads": [unchanged],
                        "imported": [imported]})


def test_task_rereads_only_changed_zip_archives(spark):
    """Every task calls ``importlib.invalidate_caches()``; on Python
    < 3.12 the stock zipimporter then re-reads each archive's whole
    directory (16 reads per task in a PySpark worker).  Under the
    session's daemon, unchanged archives are not re-read, and a
    rewritten one still is."""
    r = (spark.range(1, numPartitions=1)
         .mapInPandas(_zip_rereads, "unchanged_reads long, imported boolean")
         .collect()[0])
    assert r.unchanged_reads == 0
    assert r.imported


def _assert_local(df):
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in plan and "LogicalRDD" not in plan, plan


def test_local_frame_plans_a_local_relation(spark):
    df = local_frame(spark, [("a", 1, [1.5]), ("b", None, [])],
                     "s string, n long, v array<double>")
    _assert_local(df)
    assert df.collect() == [("a", 1, [1.5]), ("b", None, [])]
    empty = local_frame(spark, [], df.schema)
    _assert_local(empty)
    assert empty.schema == df.schema and empty.collect() == []


def test_canonical_map_driver_path_is_local(spark):
    mentions = spark.createDataFrame(
        [("北京大学",), ("北京大学 ",), ("清华大学",)], "word string")
    _assert_local(canonical_map(mentions))


def _persistent_rdds(spark) -> dict:
    return dict(spark.sparkContext._jsc.getPersistentRDDs())


def _completed_tasks(tracker, group: str) -> int:
    return sum(tracker.getStageInfo(s).numCompletedTasks
               for j in tracker.getJobIdsForGroup(group)
               for s in tracker.getJobInfo(j).stageIds
               if tracker.getStageInfo(s))


def test_canonical_map_leaves_no_cache(spark, monkeypatch):
    """``canonical_map`` reads its mentions once on either path and
    persists nothing that outlives the call.  The driver path
    unpersists the forms it probed; the banded path unpersists its
    forms and edges, and the one persistent RDD it adds is the local
    checkpoint the returned frame reads.  The forms' cache is
    coalesced by AQE, so the driver path builds and probes it in one
    task each, where a plain persist keeps
    ``spark.sql.shuffle.partitions`` cache partitions and builds and
    reads them in two jobs of that many tasks."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    reads = sc.accumulator(0)

    def read(word):
        reads.add(1)
        return word

    words = F.array(*map(F.lit, ["北京大学", "北京大学 ", "清华大学",
                                 "清华大学们"]))
    mentions = spark.range(0, 4, numPartitions=2).select(
        F.udf(read, "string").asNondeterministic()(
            F.element_at(words, F.col("id").cast("int") + 1)).alias("word"))
    rows = {}
    # banded: a bound of 1 < 3 forms; at 0 the probe is a limit(1),
    # which Spark answers from the first mention without the distinct
    for path, bound in [("driver", canonical.DRIVER_FORMS), ("banded", 1)]:
        monkeypatch.setattr(canonical, "DRIVER_FORMS", bound)
        group = f"canonical-map-{path}"
        before, r0 = _persistent_rdds(spark), reads.value
        sc.setJobGroup(group, path)
        try:
            rows[path] = sorted(canonical_map(mentions).collect())
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        added = [rdd.rdd().isCheckpointed()
                 for k, rdd in _persistent_rdds(spark).items()
                 if k not in before]
        assert (path, reads.value - r0, added) == \
            (path, 4, [] if path == "driver" else [True])
        if path == "driver":    # the map stage, then one task to
            # build the coalesced cache and one to probe it
            assert _completed_tasks(tracker, group) == 2 + 1 + 1
    assert rows["banded"] == rows["driver"]


def _compiles(spark) -> int:
    """Classes Janino has compiled in this JVM so far."""
    return spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME().getCount()


def test_rerun_plans_compile_nothing(spark):
    """A second pass over the same plans finds every generated class in
    the codegen cache.  The 30 plans inline a fresh salt into their
    stages, so their first pass compiles more classes than Spark's
    default cache of 100 holds; at that size the second pass compiles
    120 of them again."""
    salt = random.randrange(1 << 20, 1 << 30)
    base = spark.range(0, 256, numPartitions=4)

    def run():
        for k in range(salt, salt + 30):
            (base.withColumn("g", F.col("id") % 7 + k)
             .groupBy("g").agg(F.sum(F.col("id") * k).alias("s"))
             .filter(F.col("s") > -k).collect())

    c0 = _compiles(spark)
    run()
    c1 = _compiles(spark)
    run()
    assert c1 - c0 > 100
    assert _compiles(spark) - c1 == 0


def test_rerun_pipeline_compiles_nothing(spark, tmp_path):
    """A second ``run_pipeline`` over the same input compiles no class:
    no per-run value (run id, wall time) is a literal in a plan."""
    files = synth_repos_files(spark, n_files=24)
    run_pipeline(spark, files, str(tmp_path / "a"), n_buckets=2,
                 resume=False)
    c0 = _compiles(spark)
    run_pipeline(spark, files, str(tmp_path / "b"), n_buckets=2,
                 resume=False)
    assert _compiles(spark) - c0 == 0


def test_lineage_and_cap_audit_frames_are_local(spark, tmp_path,
                                                monkeypatch):
    """The frames run_pipeline writes for lineage and cap_audit are
    LocalRelations, and lineage keeps its columns, types and order,
    with ``committed_at`` a timestamp in the last position."""
    written = {}
    real_write = catalog.write_table

    def recording_write(df, out_dir, name, *args, **kwargs):
        written[name] = df
        return real_write(df, out_dir, name, *args, **kwargs)

    monkeypatch.setattr(catalog, "write_table", recording_write)
    out = str(tmp_path / "kg")
    run_pipeline(spark, synth_repos_files(spark, n_files=24), out,
                 n_buckets=2, resume=False)
    _assert_local(written["lineage"])
    _assert_local(written["cap_audit"])
    lineage = spark.read.parquet(out + "/lineage")
    assert [(f.name, f.dataType.simpleString())
            for f in lineage.schema.fields] == [
        ("bucket", "int"), ("n_files", "bigint"), ("n_lines", "bigint"),
        ("n_tokens", "bigint"), ("n_mentions", "bigint"),
        ("n_triples", "bigint"), ("n_sha_ok", "bigint"),
        ("n_sha_bad", "bigint"), ("run_id", "string"),
        ("status", "string"), ("wall_ms", "int"),
        ("committed_at", "timestamp")]
    assert lineage.filter(F.col("committed_at").isNull()).count() == 0


def _create_dataframe_calls(tree) -> int:
    return sum(isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
               and n.func.attr == "createDataFrame" for n in ast.walk(tree))


def test_no_create_dataframe_outside_local_frame():
    """Driver-side rows reach Spark only through ``local_frame``: the
    one ``createDataFrame(`` call under ``lacspark/`` is its own."""
    trees = {}
    for d, _, names in os.walk(os.path.join(REPO, "lacspark")):
        for name in names:
            if name.endswith(".py"):
                path = os.path.join(d, name)
                with open(path, encoding="utf-8") as fh:
                    trees[os.path.relpath(path, REPO)] = ast.parse(fh.read())
    calls = {path: n for path, tree in trees.items()
             if (n := _create_dataframe_calls(tree))}
    assert calls == {os.path.join("lacspark", "spark", "session.py"): 1}
    helper = next(n for n in ast.walk(trees[os.path.join(
        "lacspark", "spark", "session.py")])
        if isinstance(n, ast.FunctionDef) and n.name == "local_frame")
    assert _create_dataframe_calls(helper) == 1
