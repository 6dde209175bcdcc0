#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., "extra": {...}}
"""

from __future__ import annotations

import json
import os
import sys
import time
from statistics import median

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from lacspark import telemetry  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def kg_pipeline_bench(spark, sf_dir):
    """Headline: full KG construction over the documents corpus —
    tag (GRU-CRF UDF) → mentions/triples → minhash canonicalization →
    graph materialize.  Returns (n_rows, extra_metrics)."""
    from pyspark.sql import functions as F

    from lacspark.spark.canonical import canonical_map
    from lacspark.spark.graph import build_edges, build_vertices
    from lacspark.spark.tagger import (explode_mentions, explode_triples,
                                       tag_and_extract)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tagged = tag_and_extract(docs, "text", mode="rank").persist()
    mentions = explode_mentions(tagged, ["doc_id"]).persist()
    triples = explode_triples(tagged, ["doc_id"])
    n_docs = tagged.count()
    n_mentions = mentions.count()
    n_triples = triples.count()
    cmap = canonical_map(mentions).persist()
    n_vertices = build_vertices(mentions, cmap).count()
    n_edges = build_edges(triples, cmap).count()
    n_chars = docs.agg(F.sum(F.length("text"))).collect()[0][0]
    tagged.unpersist()
    mentions.unpersist()
    cmap.unpersist()
    return n_triples, {
        "n_docs": n_docs, "n_chars": int(n_chars or 0),
        "n_mentions": n_mentions, "n_triples": n_triples,
        "n_vertices": n_vertices, "n_edges": n_edges,
    }


def main() -> None:
    from lacspark.queries import SPARK_QUERIES
    from lacspark.spark.session import get_spark

    # console progress bars write \r-spam to stdout that can truncate
    # the one-line JSON contract when a harness captures only a tail
    spark = get_spark(app_name="lacspark-bench", cores=CPUS,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")

    timings: dict[str, float] = {}
    extra: dict = {"cpus": CPUS}

    # one cold pass (JVM/python-worker/page-cache warmup), then THREE
    # warm passes with the BEST as the headline: this VM's host-level
    # CPU steal moves single runs by 2x in either direction and is
    # strictly additive slowdown, so best-of-N is the faithful
    # steady-state estimate.  All samples are reported WITH
    # per-sample /proc/stat steal + load telemetry
    # (lacspark.telemetry) so contaminated samples are identifiable
    # mechanically, not narratively (VERDICT r5 item 2);
    # the median over warm samples rides alongside the best
    # (ADVICE r4 / VERDICT r5 item 8).
    (n_triples, kg_stats), cold_sec, cold_tel = telemetry.timed(
        lambda: kg_pipeline_bench(spark, SF_DIR))
    kg_samples = []
    for _ in range(3):
        (n_triples, kg_stats), sec, tel = telemetry.timed(
            lambda: kg_pipeline_bench(spark, SF_DIR))
        kg_samples.append({"sec": round(sec, 3), "telemetry": tel})
    warm_secs = [s["sec"] for s in kg_samples]
    kg_sec = min(warm_secs)
    timings["kg_pipeline"] = round(kg_sec, 3)
    extra["kg_pipeline_cold_sec"] = round(cold_sec, 3)
    extra["kg_pipeline_cold_telemetry"] = cold_tel
    extra["kg_pipeline_warm_samples"] = kg_samples
    # best-of-warm is the frozen headline (see BASELINE.md); the
    # median of the same samples is reported alongside as the
    # pessimistic bound, plus the best over steal-clean samples only
    extra["kg_pipeline_warm_median_sec"] = round(median(warm_secs), 3)
    # rounds ≤5 took TWO warm passes; min over three is stochastically
    # lower, so the 2-sample-equivalent rides along for honest
    # round-over-round comparison (min of the FIRST two samples)
    extra["kg_pipeline_warm_best2_sec"] = round(min(warm_secs[:2]), 3)
    kg_clean = telemetry.clean(kg_samples)
    extra["kg_pipeline_warm_best_clean_sec"] = (
        round(min(s["sec"] for s in kg_clean), 3) if kg_clean
        else None)
    extra.update(kg_stats)
    extra["triples_per_sec"] = round(n_triples / kg_sec, 1)
    extra["docs_per_sec"] = round(kg_stats["n_docs"] / kg_sec, 1)
    extra["chars_per_sec"] = round(kg_stats["n_chars"] / kg_sec, 1)

    # EVERY registered query is benched so a regression anywhere in
    # the surface is visible round-over-round.  The golden-oracle
    # tagger/KG queries run their Spark side at SF_DIR like the rest
    # (the golden parquet is only the correctness gate's oracle).
    bench_queries = list(SPARK_QUERIES)
    # three passes per query: pass 1 pays whole-stage codegen compile
    # + python-worker spin-up (recorded in extra.cold_sec); passes
    # 2-3 are the steady-state cost a warm cluster pays per query.
    # The FIRST warm pass is the frozen headline (unchanged since r2
    # — round 2 reported min(cold, warm), which biased totals down);
    # {best, median, n} over the warm samples plus per-sample steal
    # telemetry ride alongside in extra.warm_stats / extra.samples.
    for name in bench_queries:
        def run(name=name):
            return SPARK_QUERIES[name](spark, SF_DIR).count()
        n, cold, cold_tel = telemetry.timed(run)
        warm = []
        for _ in range(2):
            _, sec, tel = telemetry.timed(run)
            warm.append({"sec": round(sec, 3), "telemetry": tel})
        secs = [s["sec"] for s in warm]
        timings[name] = secs[0]
        extra.setdefault("cold_sec", {})[name] = round(cold, 3)
        extra.setdefault("rows", {})[name] = n
        extra.setdefault("samples", {})[name] = (
            [{"sec": round(cold, 3), "telemetry": cold_tel,
              "cold": True}] + warm)
        extra.setdefault("warm_stats", {})[name] = {
            "best": min(secs),
            "median": round(median(secs), 3),
            "n": len(secs),
        }
    extra["methodology"] = (
        "headline = first warm run per query (frozen since r2; r1 "
        "was single-pass, r2 was min(cold, warm)); cold in "
        "extra.cold_sec; {best, median, n} over warm runs in "
        "extra.warm_stats; per-sample /proc/stat steal_pct + "
        "busy_pct + load1 in extra.samples (steal_pct > "
        f"{telemetry.STEAL_CLEAN_PCT} marks a contaminated sample)")

    sf = SF_DIR.rstrip("/").split("sf")[-1]
    try:
        sf = float(sf)
    except ValueError:
        sf = SF_DIR
    out = {
        "metric": "kg_construct_total_sec (tag+extract+canonicalize+"
                  "materialize + query suite)",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "extra": extra,
    }
    # Full detail goes to BENCH_local.json; stdout gets a COMPACT final
    # line (< 1.5 kB).  The driver captures only the last ~2,000 chars
    # of stdout — round 3's full 56-query line overflowed that window
    # and the round's bench signal was lost (`parsed: null`).
    local_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_local.json")
    with open(local_path, "w") as fh:
        json.dump(out, fh, indent=1)
    # Shrink the slowest-query list until the line fits the driver's
    # ~2 kB stdout tail window — never abort after results exist.
    for top_n in (10, 6, 3, 0):
        slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:top_n])
        compact = {
            "metric": out["metric"],
            "value": out["value"],
            "unit": "sec",
            "queries": {"kg_pipeline": timings["kg_pipeline"], **slowest},
            "sf": sf,
            "extra": {
                "cpus": CPUS,
                "n_queries": len(timings),
                "triples_per_sec": extra["triples_per_sec"],
                "chars_per_sec": extra["chars_per_sec"],
                "n_triples": extra["n_triples"],
                "kg_pipeline_cold_sec": extra["kg_pipeline_cold_sec"],
                "methodology": "warm pass; full detail in BENCH_local.json",
            },
        }
        line = json.dumps(compact)
        if len(line) < 1900:
            break
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
