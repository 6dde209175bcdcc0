#!/usr/bin/env python
"""spark-submit entrypoint for the KG-construction job.

Cluster usage (the north-rule execution model):

    python jobs/make_pyfiles.py                       # → dist/lacspark.zip
    spark-submit --py-files dist/lacspark.zip \\
        --conf spark.sql.adaptive.enabled=true \\
        jobs/run_kg.py --input <parquet-or-iceberg> \\
        --output s3://.../kg --buckets 4096 --mode rank --resume

Local sandbox usage (synthetic corpus):

    python jobs/run_kg.py --synth 20000 --output /tmp/kg

``--cores N`` makes the master ``local[N]`` only where the job starts
its own JVM; under spark-submit, ``--master`` holds and N only sizes
the shuffle partitions.  Without it, N is ``$SPARK_GRAFT_CPUS`` or
else the number of CPUs this process may run on.

A run that starts its own JVM also prints the session start:
``session_start_s`` (wall) and ``session_start_cpu_s`` (the driver's
and the JVM's CPU).  Under spark-submit the JVM starts before Python
runs, and both are left out.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="parquet path of repos_files "
                                    "(repo, path, commit, lang, content)")
    ap.add_argument("--synth", type=int, default=0,
                    help="generate N synthetic files instead of --input")
    ap.add_argument("--output", required=True)
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--mode", default="rank",
                    choices=["seg", "lac", "rank"])
    ap.add_argument("--custom-dict", default=None)
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--no-graph", action="store_true")
    ap.add_argument("--cores", type=int, default=None,
                    help="local[N] when not under spark-submit "
                         "(there, --master holds); default "
                         "$SPARK_GRAFT_CPUS, else the CPUs this "
                         "process may run on")
    ap.add_argument("--run-id", default=None)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from lacspark import telemetry

    active = SparkSession.getActiveSession()
    session_start = {}
    if active is not None:
        spark = active  # a session already runs in this process
    else:
        from lacspark.spark.session import get_spark

        # the JVM starts here unless spark-submit launched it first
        launches = "PYSPARK_GATEWAY_PORT" not in os.environ
        cpu0, t0 = telemetry.process_cpu_s(), time.perf_counter()
        spark = get_spark(app_name="lacspark-kg", cores=args.cores)
        if launches:
            jvm = spark._jvm.java.lang.ProcessHandle.current().pid()
            session_start = {
                "session_start_s": round(time.perf_counter() - t0, 3),
                "session_start_cpu_s": round(
                    telemetry.process_cpu_s() - cpu0
                    + telemetry.process_cpu_s(jvm), 3)}
    spark.sparkContext.setLogLevel("WARN")

    if args.synth:
        from lacspark.spark.repos_files import synth_repos_files

        files = synth_repos_files(spark, n_files=args.synth)
    elif args.input:
        files = spark.read.parquet(args.input)
    else:
        ap.error("one of --input / --synth is required")

    custom_lines: tuple[str, ...] = ()
    if args.custom_dict:
        with open(args.custom_dict, encoding="utf8") as f:
            custom_lines = tuple(ln.strip() for ln in f if ln.strip())

    from lacspark.spark.pipeline import run_pipeline

    # per-run /proc/stat steal + load annotation (same instrumentation
    # as bench.py) so pipeline wall-times are interpretable next to a
    # noisy co-tenant — BASELINE.md's 200k narratives cite these
    metrics, _, tel = telemetry.timed(lambda: run_pipeline(
        spark, files, args.output, run_id=args.run_id, mode=args.mode,
        custom_lines=custom_lines, n_buckets=args.buckets,
        resume=not args.no_resume, build_graph=not args.no_graph))
    metrics["telemetry"] = tel
    # session start (JVM and driver CPU), when this process launched it
    metrics.update(session_start)
    print(json.dumps(metrics))


if __name__ == "__main__":
    main()
