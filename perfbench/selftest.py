#!/usr/bin/env python3
"""Self-test of the benchmark at tiny size, in one Spark session:

    python3 perfbench/selftest.py

* every metric named in BENCHMARK.json is in the result line, with
  its unit, on every workload, traced and untraced;
* a planted output mismatch fails operations (error rate above 0);
* trace spans nest, siblings do not overlap, and a unit's root span
  is its wall time.

Exits 0 when every check holds.  Takes about three minutes on 4 cores.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import time

import run

TINY_DOCS = 40
TINY_FILES = 40
TINY_QUERIES = ["doc_fingerprint", "token_count_bpe", "dedup_simhash",
                "binary_payload_meta", "streaming_tumbling_minute"]
SECONDS = 0.5


def expect(cond: bool, *what) -> None:
    """An assert that ``python -O`` does not remove."""
    if not cond:
        raise AssertionError(what)


def check_metrics(spec: dict, trace: bool, res: dict, label: str) -> None:
    wanted = spec["per_layer" if trace else "end_to_end"]
    got = res["metrics"]
    expect(set(got) == {d["name"] for d in wanted}, label)
    for d in wanted:
        value = got[d["name"]]
        expect(value["unit"] == d["unit"], (label, d["name"]))
        expect(math.isfinite(value["value"]), (label, d["name"]))
        if not trace:  # end-to-end metrics are never 0
            expect(value["value"] > 0, (label, d["name"], value))


def no_overlap(spans: list[dict], label: str) -> float:
    """Check that ``spans`` do not overlap; return their summed time."""
    spans = sorted(spans, key=lambda sp: sp["t0"])
    for a, b in zip(spans, spans[1:]):
        expect(a["t1"] <= b["t0"], (label, a["name"], b["name"]))
    return sum(sp["t1"] - sp["t0"] for sp in spans)


def check_spans(m: dict, label: str) -> None:
    for unit, spans in zip(m["traced"], m["traced_spans"]):
        by_id = {sp["id"]: sp for sp in spans}
        roots = [sp for sp in spans if sp["parent"] is None]
        expect(roots and all(r["name"].endswith(".unit") for r in roots),
               label)
        for sp in spans:
            if sp["parent"] is not None:
                parent = by_id[sp["parent"]]  # the parent is in this unit
                expect(parent["t0"] <= sp["t0"] <= sp["t1"] <= parent["t1"],
                       (label, sp["name"]))
        for root in roots:
            covered = no_overlap([sp for sp in spans
                                  if sp["parent"] == root["id"]], label)
            expect(covered <= root["t1"] - root["t0"], label)
        # the root spans are the unit's timed work plus bookkeeping
        root_s = no_overlap(roots, label)
        expect(abs(root_s - unit.wall) <= 0.05 * unit.wall + 0.05,
               (label, root_s, unit.wall))


def main() -> int:
    from workloads import KG, DocsKG, QueryMix, ReposKG, load_json

    work = os.path.join(run.WORK_ROOT, f"selftest-{os.getpid()}")
    run.prepare_environment(work)
    if not run.program_in_checkout():
        print("selftest: no lacspark package in this checkout",
              file=sys.stderr)
        return 2
    for sub in ("tmp", "spark-local", "warehouse", "kg", "mix"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    with open(os.path.join(run.ROOT, "BENCHMARK.json"), encoding="utf8") as fh:
        spec = json.load(fh)
    expected = load_json("expected.json")
    layers = load_json("query_layers.json")["layers"]
    cores = len(os.sched_getaffinity(0))

    from tracing import Tracer

    spark, session = run.start_spark(cores, work)
    try:
        docs = DocsKG(None, limit=TINY_DOCS)
        # an unpinned seed: every job must match the run's first one
        repos = ReposKG(None, n_files=TINY_FILES)
        kg = KG(docs, repos)
        kg.prepare(os.path.join(work, "kg"), seed=7)
        docs.unit(spark, Tracer(spark.sparkContext, False))
        docs.expected = dict(docs.observed[-1])  # pin the tiny corpus
        mix = QueryMix(expected["query_mix"], layers, TINY_QUERIES)
        mix.prepare(os.path.join(work, "mix"), seed=7)

        for wl in (kg, mix):
            for trace in (False, True):
                label = f"{wl.name} trace={int(trace)}"
                m = run.measure(spark, wl, SECONDS, trace, session,
                                time.perf_counter())
                e2e = run.end_to_end(m)
                per = (run.per_layer(spark, wl, m, cores, session)[0]
                       if trace else {})
                res = run.result(spec, trace, m, e2e, per)
                check_metrics(spec, trace, res, label)
                expect(res["correct"] and res["failed"] == 0, (label, res))
                if trace:
                    check_spans(m, label)
                print(f"ok  {label}: {res['attempted']} ops, metrics "
                      "all named, with units")

        docs.expected["n_triples"] += 1
        repos.expected = {"seed": 7, "outputs": {
            **repos.observed[0], "n_triples": -1}}
        mix.expected = {**mix.expected, "doc_fingerprint":
                        {"rows": -1, "hash": "planted"}}
        for wl in (kg, mix):
            m = run.measure(spark, wl, SECONDS, False, session,
                            time.perf_counter())
            res = run.result(spec, False, m, run.end_to_end(m), {})
            expect(res["failed"] > 0 and not res["correct"], (wl.name, res))
            # in kg both parts were planted, so every build and job fails
            expect(wl is mix or res["failed"] == res["attempted"],
                   (wl.name, res))
            print(f"ok  {wl.name} planted mismatch: "
                  f"error rate {res['failed'] / res['attempted']:.3g}")
    finally:
        run.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
