"""Session factory: Python workers run wherever the driver starts,
a task does not re-read unchanged zip archives, driver-side rows
become LocalRelations, a re-run plan reuses its compiled code, the
driver JVM starts from a class-data archive where it can, and
spark-submit's master holds."""

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
spark = get_spark(app_name="daemon-cwd", cores=1, extra_conf={{
    "spark.sql.shuffle.partitions": "1", "spark.ui.enabled": "false"}})
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


def test_spark_submit_keeps_its_master(tmp_path):
    """Under ``spark-submit`` the JVM runs before the script does:
    ``get_spark()`` keeps the launcher's ``--master`` and still sets
    the program's confs.  With no ``cores`` and no
    ``SPARK_GRAFT_CPUS``, the core count that sizes the shuffle
    partitions is the number of CPUs the process may run on."""
    from pyspark.find_spark_home import _find_spark_home

    script = tmp_path / "submitted.py"
    script.write_text(f"""
import sys
sys.path.insert(0, {REPO!r})
from lacspark.spark.session import get_spark
spark = get_spark(app_name="submitted")
print(spark.sparkContext.master,
      spark.conf.get("spark.sql.sources.partitionOverwriteMode"),
      spark.conf.get("spark.sql.shuffle.partitions"))
spark.stop()
""")
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    out = subprocess.run(
        [os.path.join(_find_spark_home(), "bin", "spark-submit"),
         "--master", "local[2]", "--driver-memory", "1g",
         "--conf", "spark.ui.enabled=false", str(script)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    partitions = max(2 * len(os.sched_getaffinity(0)), 32)
    assert out.stdout.strip().splitlines()[-1] == \
        f"local[2] dynamic {partitions}"


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


# One session in a subprocess: its JVM's arguments, the CDS line of
# ``jcmd <jvm> VM.info``, a query's count, the session's Java options,
# the conf value ``spark.lacspark.probe``, the JVM's conf dir and the
# driver's after the start.  The JVM is waited for, so a dump at its
# exit has finished on return.
_ARCHIVE_PROBE = """
import json, os, subprocess, sys
sys.path.insert(0, {repo!r})
from pyspark import SparkContext
from lacspark.spark.session import get_spark
spark = get_spark(app_name="cds-probe", cores=1, extra_conf={{
    "spark.sql.shuffle.partitions": "1", **json.loads(sys.argv[1])}})
jvm = spark._jvm
pid = jvm.java.lang.ProcessHandle.current().pid()
java = os.path.realpath(jvm.java.lang.System.getProperty("java.home"))
info = subprocess.run([os.path.join(java, "bin", "jcmd"), str(pid),
                       "VM.info"], capture_output=True, text=True).stdout
print(json.dumps({{
    "args": list(jvm.java.lang.management.ManagementFactory
                 .getRuntimeMXBean().getInputArguments()),
    "cds": [ln for ln in info.splitlines() if ln.startswith("CDS archive")],
    "rows": spark.range(5).count(),
    "java_opts": spark.sparkContext.getConf().get(
        "spark.driver.extraJavaOptions", ""),
    "probe": spark.conf.get("spark.lacspark.probe", None),
    "conf_dir": jvm.java.lang.System.getenv("SPARK_CONF_DIR"),
    "env_conf_dir": os.environ.get("SPARK_CONF_DIR"),
}}))
gateway = SparkContext._gateway
spark.stop()
gateway.shutdown()
gateway.proc.stdin.close()
gateway.proc.wait(timeout=120)
"""


def _probe_session(cache, extra_conf=None, **env):
    """``_ARCHIVE_PROBE``'s reading, with ``XDG_CACHE_HOME=cache``."""
    import json

    run_env = {k: v for k, v in os.environ.items() if k != "SPARK_CONF_DIR"}
    run_env.update(LACSPARK_DRIVER_MEM="1g", XDG_CACHE_HOME=str(cache),
                   **env)
    out = subprocess.run(
        [sys.executable, "-c", _ARCHIVE_PROBE.format(repo=REPO),
         json.dumps(extra_conf or {})],
        env=run_env, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def _cds_flags(args):
    return [a for a in args if "Archive" in a or a.startswith("-Xshare")]


def _mapped_size(probe):
    """The bytes of CDS archives the JVM mapped (0: none)."""
    import re

    (line,) = probe["cds"]
    m = re.search(r"size (\d+)", line)
    return int(m.group(1)) if m else 0


def _archive_name(cache):
    """The archive's file name for this machine under ``cache``."""
    from pyspark.find_spark_home import _find_spark_home

    from lacspark.spark import session

    stand_in = os.path.join(str(cache), "lacspark", "cds", "conf")
    key = session._archive_key(session._java_binary(), _find_spark_home(),
                               stand_in)
    return f"{key}.jsa"


def test_first_start_dumps_the_archive_and_the_next_maps_it(tmp_path):
    """The first launch against an empty cache dumps the class-data
    archive at JVM exit, under its own temporary name, from the empty
    stand-in conf dir, with the caller's Java options kept word for
    word and the dump flag appended.  The next launch promotes the
    dump and maps it: the JVM maps more than the JDK's base archive,
    and the cache holds one archive and no temporary file."""
    caller = "-Dlacspark.probe=a  -XX:TieredStopAtLevel=1"
    cache = tmp_path / "cache"
    cds = cache / "lacspark" / "cds"
    first = _probe_session(
        cache, {"spark.driver.extraJavaOptions": caller})
    assert first["rows"] == 5
    # Spark puts its own module options first in the session's value
    assert f"{caller} -XX:ArchiveClassesAtExit=" in first["java_opts"]
    assert "-Dlacspark.probe=a" in first["args"]
    (dump,) = _cds_flags(first["args"])
    assert dump.startswith(f"-XX:ArchiveClassesAtExit={cds}{os.sep}")
    assert dump.endswith(".tmp")
    assert first["conf_dir"] == str(cds / "conf")
    assert first["env_conf_dir"] is None
    assert os.listdir(cds / "conf") == []

    second = _probe_session(cache)
    name = _archive_name(cache)
    assert _cds_flags(second["args"]) == [
        f"-XX:SharedArchiveFile={cds / name}"]
    assert second["rows"] == 5
    assert _mapped_size(second) > _mapped_size(first) > 0
    assert sorted(os.listdir(cds)) == sorted([name, "conf"])


def test_garbage_or_stale_archive_starts_normally(tmp_path):
    """An archive under this machine's name that the JVM rejects, a
    garbage file with the archive magic or a real archive written for
    another classpath, is passed to the JVM, which starts without it;
    the session works."""
    import glob

    from pyspark.find_spark_home import _find_spark_home

    from lacspark.spark import session

    cache = tmp_path / "cache"
    cds = cache / "lacspark" / "cds"
    (cds / "conf").mkdir(parents=True)
    archive = cds / _archive_name(cache)
    archive.write_bytes(session._ARCHIVE_MAGIC + os.urandom(1 << 16))
    garbage = _probe_session(cache)
    assert _cds_flags(garbage["args"]) == [
        f"-XX:SharedArchiveFile={archive}"]
    assert garbage["rows"] == 5

    archive.unlink()
    jar = min(glob.glob(os.path.join(_find_spark_home(), "jars", "*.jar")))
    made = subprocess.run(
        [session._java_binary(), f"-XX:ArchiveClassesAtExit={archive}",
         "-cp", jar, "-version"], capture_output=True, timeout=120)
    assert made.returncode == 0 and session._is_archive(str(archive))
    stale = _probe_session(cache)
    assert _cds_flags(stale["args"]) == [f"-XX:SharedArchiveFile={archive}"]
    assert stale["rows"] == 5


def test_real_conf_dir_or_unwritable_cache_uses_no_archive(tmp_path):
    """A conf dir holding a real ``spark-defaults.conf`` stays the
    launcher's, its values reach the session, and no archive flag is
    added; a cache that cannot be made gives a normal start too."""
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.lacspark.probe 42\n")
    (conf / "log4j2.properties.template").write_text("")
    cache = tmp_path / "cache"
    real = _probe_session(cache, SPARK_CONF_DIR=str(conf))
    assert real["probe"] == "42"
    assert real["conf_dir"] == real["env_conf_dir"] == str(conf)
    assert _cds_flags(real["args"]) == []
    assert real["rows"] == 5
    assert not cache.exists()

    cache.write_text("a file where the cache directory would be")
    blocked = _probe_session(cache)
    assert _cds_flags(blocked["args"]) == []
    assert blocked["rows"] == 5


def test_unfinished_dump_is_never_promoted(tmp_path, monkeypatch):
    """A temporary dump without the archive magic is left alone while
    it may still be written, deleted once it is old, and never
    promoted; the largest finished one is promoted, and the other
    finished dumps and the archives of other keys go."""
    from lacspark.spark import session

    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    cds = tmp_path / "lacspark" / "cds"
    (cds / "conf").mkdir(parents=True)
    name = _archive_name(tmp_path)
    key = name.removesuffix(".jsa")
    writing = cds / f"{key}.1-a.tmp"
    writing.write_bytes(bytes(4096))
    cut_short = cds / f"{key}.2-b.tmp"
    cut_short.write_bytes(bytes(4096))
    hour_ago = os.path.getmtime(cut_short) - 3600
    os.utime(cut_short, (hour_ago, hour_ago))

    _, flags = session._plan_archive({})
    assert flags.startswith(f"-XX:ArchiveClassesAtExit={cds}{os.sep}{key}.")
    assert sorted(os.listdir(cds)) == sorted(["conf", writing.name])

    other = cds / "0123456789abcdef.jsa"
    other.write_bytes(session._ARCHIVE_MAGIC + bytes(4096))
    (cds / f"{key}.3-c.tmp").write_bytes(session._ARCHIVE_MAGIC + bytes(64))
    (cds / f"{key}.4-d.tmp").write_bytes(session._ARCHIVE_MAGIC + bytes(128))
    _, flags = session._plan_archive({})
    assert flags.startswith(f"-XX:SharedArchiveFile={cds / name} ")
    assert sorted(os.listdir(cds)) == sorted(["conf", name, writing.name])
    assert (cds / name).stat().st_size == 4 + 128
