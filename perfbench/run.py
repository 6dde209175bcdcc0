#!/usr/bin/env python3
"""lacspark benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload kg --seed 1 --seconds 10 --trace 0

Runs ``local[N]`` (N = the CPUs this process may use) from this one
driver process, which starts no threads of its own.  The session start
and the first unit of work, which is cold, are charged to ``setup_s``;
warm units then run until ``--seconds`` have been measured.  The
end-to-end metrics count CPU seconds of the driver, the JVM and the
Python workers: unlike wall time, they do not grow with the CPU time
the host steals (README.md, "Noise").  With ``--trace 1`` the warm units alternate between
untraced and traced, and the run reports the per-layer metrics
instead of the end-to-end ones.

All temporary files go under ``perfbench/.work``; a record of each run
(every sample with its host telemetry, the spans, the checks) is
kept in ``perfbench/.work/records``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK_ROOT = os.path.join(BENCH_DIR, ".work")
# the JVM heap; these inputs need far less than the session's 8 GB
# default, and the machine's memory is shared
DRIVER_MEM = "3g"
# The JVM compiles with C1 only.  With C2, the first warm kg unit took
# a fifth more CPU than the ones after it, so a run would need an
# unmeasured unit before a steady one; with C1 only, the first warm
# unit is within a few percent of the later ones, and the session
# starts faster.
JIT_OPTS = "-XX:TieredStopAtLevel=1"
# stop starting units once this much of the 180 s run budget is gone
SOFT_DEADLINE_S = 140.0
# documents in the docs_kg build, files in the repos_kg corpus
DOCS = 250
REPOS_FILES = 128
WORKLOADS = ("kg", "query_mix")


def prepare_environment(work: str) -> None:
    """Point every temporary path of Spark, the JVM and Python into
    ``work`` and put the repo root on the Python workers' path (the
    worker daemon module is imported from it)."""
    path = os.environ.get("PYTHONPATH")
    os.environ.update({
        "PYTHONPATH": ROOT + (os.pathsep + path if path else ""),
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "LACSPARK_WAREHOUSE": os.path.join(work, "warehouse"),
        "LACSPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_IP": "127.0.0.1",
        # the driver tags in-process during the replay: one math thread
        "OMP_NUM_THREADS": "1",
        "OPENBLAS_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
    })
    sys.path.insert(0, ROOT)


def program_in_checkout() -> bool:
    """Whether ``lacspark`` imports from this checkout (a checkout of
    only the benchmark's files has no program to run)."""
    try:
        import lacspark
    except ImportError:
        return False
    here = os.path.realpath(os.path.dirname(lacspark.__file__))
    return here.startswith(os.path.realpath(ROOT) + os.sep)


def source_identity() -> dict:
    """The git commit when there is one, and always a digest of the
    program's sources, so a sample can be tied to the code it ran."""
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            commit = subprocess.run(
                ["git", "-C", ROOT, "rev-parse", "HEAD"], check=True,
                capture_output=True, text=True, timeout=10).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            commit = None
    h = hashlib.sha256()
    for base in ("lacspark", "jobs"):
        for dirpath, dirnames, files in os.walk(os.path.join(ROOT, base)):
            dirnames.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    p = os.path.join(dirpath, f)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return {"git_commit": commit, "source_sha256": h.hexdigest()}


def start_spark(cores: int, work: str):
    """The session, and the wall time and CPU its start took."""
    from workloads import cpu_between, cpu_reading

    c0 = cpu_reading()
    t0 = time.perf_counter()
    from lacspark.spark.session import get_spark

    spark = get_spark(app_name="lacspark-perfbench", cores=cores, extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} {JIT_OPTS}",
        "spark.sql.streaming.forceDeleteTempCheckpointLocation": "true",
        "spark.ui.retainedJobs": "20000",
        "spark.ui.retainedStages": "20000",
    })
    spark.sparkContext.setLogLevel("ERROR")
    wall = time.perf_counter() - t0
    cpu, jit_cpu = cpu_between(c0, cpu_reading())
    return spark, {"wall_s": wall, "cpu_s": cpu, "jit_cpu_s": jit_cpu}


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def make_workload(name: str):
    """The named workload with its pinned outputs.  The pinned query
    map must be exactly the registry minus the excluded queries, and
    the timed mix a part of it, or the pins are stale and the run
    stops."""
    from workloads import KG, DocsKG, QueryMix, ReposKG, load_json

    expected = load_json("expected.json")
    if name == "kg":
        return KG(DocsKG(expected["docs_kg"], DOCS),
                  ReposKG(expected["repos_kg"], REPOS_FILES))
    from lacspark.queries import SPARK_QUERIES

    pinned = load_json("query_layers.json")
    excluded = {q for qs in pinned["excluded"].values() for q in qs}
    registered = set(SPARK_QUERIES) - excluded
    if registered != set(pinned["layers"]) or \
            not set(pinned["mix"]) <= registered:
        raise SystemExit(
            "perfbench: the registry no longer matches query_layers.json: "
            f"new {sorted(registered - set(pinned['layers']))}, "
            f"gone {sorted(set(pinned['layers']) - registered)}, "
            f"unknown in mix {sorted(set(pinned['mix']) - registered)}")
    return QueryMix(expected["query_mix"], pinned["layers"], pinned["mix"])


def measure(spark, workload, seconds: float, trace: bool, session: dict,
            t_process: float) -> dict:
    """The cold unit, then warm units for ``seconds``; returns the
    units, and with ``trace`` the traced units' spans."""
    from tracing import Tracer, streaming_progress
    from workloads import Meter

    sc = spark.sparkContext
    off = Tracer(sc, False)
    cold = workload.unit(spark, off)
    setup_s = session["cpu_s"] + cold.cpu

    meter = Meter()
    meter.start()
    tracer = Tracer(sc, trace)
    warm, traced, traced_spans = [], [], []
    start = time.perf_counter()
    while True:
        warm.append(workload.unit(spark, off))
        if trace:
            first = len(tracer.spans)
            with streaming_progress(tracer):
                traced.append(workload.unit(spark, tracer))
            traced_spans.append(tracer.spans[first:])
        elapsed = time.perf_counter() - start
        done = elapsed >= seconds and len(warm) >= workload.min_units
        late = (time.perf_counter() - t_process
                + elapsed / len(warm) > SOFT_DEADLINE_S)
        if done or late:
            break
    return {"setup_s": setup_s, "cold": cold, "warm": warm,
            "traced": traced, "traced_spans": traced_spans,
            "tracer": tracer, "peak_rss_mb": meter.peak_rss_mb()}


def end_to_end(m: dict) -> dict:
    """CPU seconds: of the set-up, and medians over the warm units per
    unit and per operation execution."""
    return {
        "setup_s": m["setup_s"],
        "cpu_s": statistics.median(u.cpu for u in m["warm"]),
        "op_cpu_p50_s": statistics.median(
            op.cpu for u in m["warm"] for op in u.ops),
    }


def per_layer(spark, workload, m: dict, cores: int,
              session: dict) -> tuple[dict, list[dict]]:
    from tracing import (attribute, engine_replay, fetch_jobs_and_stages,
                         median_layers, stream_totals, unattributed_seconds,
                         unit_layer_metrics)

    sc = spark.sparkContext
    jobs, stages = fetch_jobs_and_stages(sc)
    spans = m["tracer"].spans
    attributed = attribute(spans, jobs, stages)
    per_unit = [unit_layer_metrics(u, attributed, cores)
                for u in m["traced_spans"]]
    out = median_layers(per_unit)
    streams = [stream_totals(u) for u in m["traced_spans"]]
    untraced = statistics.median(u.cpu for u in m["warm"])
    traced = statistics.median(u.cpu for u in m["traced"])
    out.update({
        "unit.wall_s": statistics.median(u.wall for u in m["warm"]),
        "peak_rss_mb": m["peak_rss_mb"],
        "jvm.jit_cpu_s": statistics.median(u.jit_cpu for u in m["warm"]),
        "session.get_spark.s": session["wall_s"],
        "spark.spill_bytes": sum(s["diskBytesSpilled"] for s in stages),
        "spark.failed_tasks": sum(s["numFailedTasks"] for s in stages),
        "streaming.batches": statistics.median(b for b, _ in streams),
        "streaming.state_rows": statistics.median(r for _, r in streams),
        "unattributed_s": statistics.median(
            unattributed_seconds(u) for u in m["traced_spans"]),
        "tracing_overhead_frac": traced / untraced - 1.0,
    })
    workload.stage(spark)
    batches = workload.replay_batches(cores)
    if batches:
        out.update(engine_replay(batches))
    return out, spans


def all_ops(m: dict) -> list:
    return [op for u in [m["cold"], *m["warm"], *m["traced"]]
            for op in u.ops]


def result(spec: dict, trace: bool, m: dict, e2e: dict,
           layers: dict) -> dict:
    """The result line: every end-to-end metric, or with ``trace``
    every per-layer one (0 where the workload has no such layer)."""
    ops = all_ops(m)
    failed = sum(not op.ok for op in ops)
    values = layers if trace else e2e
    metrics = {d["name"]: {"value": float(values.get(d["name"], 0.0)),
                           "unit": d["unit"]}
               for d in spec["per_layer" if trace else "end_to_end"]}
    return {"correct": failed == 0, "attempted": len(ops),
            "failed": failed, "metrics": metrics}


def main(argv: list[str] | None = None) -> int:
    t_process = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf8") as fh:
        spec = json.load(fh)
    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    prepare_environment(work)
    if not program_in_checkout():
        print("perfbench: no lacspark package in this checkout",
              file=sys.stderr)
        return 2
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    try:
        return run_workload(args, spec, work, t_process)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run_workload(args, spec: dict, work: str, t_process: float) -> int:
    import pyspark

    from lacspark import telemetry

    cores = len(os.sched_getaffinity(0))
    workload = make_workload(args.workload)
    workload.prepare(work, args.seed)

    spark, session = start_spark(cores, work)
    try:
        s0 = telemetry.cpu_sample()
        m = measure(spark, workload, args.seconds, bool(args.trace), session,
                    t_process)
        run_tel = telemetry.span(s0)
        e2e = end_to_end(m)
        layers, spans = (per_layer(spark, workload, m, cores, session)
                         if args.trace else ({}, []))
    finally:
        stop_spark(spark)

    ops = all_ops(m)
    failed = sum(not op.ok for op in ops)
    record = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "nproc": os.cpu_count(), "cores": cores,
        "pyspark": pyspark.__version__, **source_identity(),
        "telemetry": run_tel, "session": session,
        "end_to_end": e2e, "per_layer": layers,
        "attempted": len(ops), "failed": failed,
        "units": [{"kind": kind, "wall_s": u.wall, "cpu_s": u.cpu,
                   "ops": [vars(op) for op in u.ops]}
                  for kind, us in (("cold", [m["cold"]]), ("warm", m["warm"]),
                                   ("traced", m["traced"]))
                  for u in us],
        "spans": [{k: v for k, v in s.items() if k != "stream"}
                  for s in spans],
        "observed": workload.observed,
    }
    records = os.path.join(WORK_ROOT, "records")
    os.makedirs(records, exist_ok=True)
    name = (f"{args.workload}-seed{args.seed}-trace{args.trace}-"
            f"{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}.json")
    with open(os.path.join(records, name), "w", encoding="utf8") as fh:
        json.dump(record, fh, indent=1, default=str)

    wall_s = statistics.median(u.wall for u in m["warm"])
    summary = {**e2e, "peak_rss_mb": m["peak_rss_mb"], "wall_s": wall_s,
               "setup_wall_s": session["wall_s"] + m["cold"].wall,
               "error_rate": failed / len(ops)}
    if workload.chars:
        summary.update(
            chars_per_s=workload.chars / wall_s,
            triples_per_s=workload.triples_per_unit() / wall_s)
    units = {d["name"]: d["unit"] for d in spec["end_to_end"]}
    units.update(peak_rss_mb="MB",
                 wall_s="s", setup_wall_s="s", error_rate="frac",
                 chars_per_s="chars/s", triples_per_s="triples/s")
    print(f"{args.workload} seed={args.seed} cores={cores} "
          f"ops={len(ops)} warm_units={len(m['warm'])} "
          f"steal={run_tel['steal_pct']}% busy={run_tel['busy_pct']}% "
          f"record={os.path.relpath(os.path.join(records, name), ROOT)}")
    print("  " + "  ".join(f"{k}={v:.6g} {units[k]}"
                           for k, v in summary.items()))
    for op in ops:
        if not op.ok:
            print(f"  FAILED {op.name}: {op.error.strip().splitlines()[-1]}")
    print(json.dumps(result(spec, bool(args.trace), m, e2e, layers)),
          flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
