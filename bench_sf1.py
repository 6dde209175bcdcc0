#!/usr/bin/env python
"""sf1 scale leg: run the scale-sensitive dedup/ANN query family at
10× the sf0.1 row count and compare per-query wall time against
sf0.1 — the cliff detector for caps/thresholds that sf0.1 is too
small to stress (VERDICT r4 item 6).

The sf1 corpus is synthesized DETERMINISTICALLY from sf0.1 (no
external data): 10 replicas of documents with every token prefixed
by its replica id (disjoint vocabularies — the pair/bucket STRUCTURE
of each replica matches sf0.1 exactly, so the expected cost model is
linear and any superlinear ratio is a real plan cliff, not a
near-dup explosion artifact), and 10 replicas of embeddings with
dimensions rotated by the replica id (distinct sign codes/centroid
geometry per replica).  doc_id/vec_id offset by replica*10^6 keeps
ids unique while replica 0 keeps the original ids (the ANN queries'
vec_id < 50 query set stays 50 queries over a 10× corpus).

Output: BENCH_scale_sf1.json with per-query sf0.1/sf1 warm times
(best of 2, the frozen BASELINE.md policy), the time ratio vs the
10× row ratio, and the no-silent-caps audit counts at sf1.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SRC_SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT_DIR = os.environ.get("LACSPARK_SF1_DIR", "/tmp/lacspark_bench_sf1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
N_REPLICAS = 10

QUERIES = [
    "dedup_minhash_lsh", "dedup_near_keep_best", "dedup_near_components",
    "dedup_substring_spans", "dedup_substring_clean",
    "dedup_embedding_cosine", "dedup_embedding_keep_best",
    "ann_lsh_topk", "ann_ivf_lists", "ann_ivf_topk", "ann_pq_topk",
    "token_minhash_canonical",
]


def synth_sf1(spark) -> None:
    from pyspark.sql import functions as F

    if os.path.exists(f"{OUT_DIR}/embeddings.parquet"):
        return
    reps = spark.range(N_REPLICAS).select(
        F.col("id").cast("int").alias("__rep"))
    docs = spark.read.parquet(f"{SRC_SF}/documents.parquet")
    (docs.crossJoin(reps)
     .select((F.col("doc_id") + F.col("__rep") * 1_000_000)
             .alias("doc_id"),
             "lang",
             F.expr("array_join(transform("
                    "filter(split(text, ' '), t -> length(t) > 0), "
                    "t -> concat('r', cast(__rep as string), t)), ' ')")
             .alias("text"))
     .repartition(CPUS)
     .write.mode("overwrite").parquet(f"{OUT_DIR}/documents.parquet"))
    emb = spark.read.parquet(f"{SRC_SF}/embeddings.parquet")
    (emb.crossJoin(reps)
     .select((F.col("vec_id") + F.col("__rep") * 1_000_000)
             .alias("vec_id"),
             F.expr("transform(sequence(1, size(embedding)), j -> "
                    "element_at(embedding, "
                    "pmod(j - 1 + __rep, size(embedding)) + 1))")
             .alias("embedding"))
     .repartition(CPUS)
     .write.mode("overwrite").parquet(f"{OUT_DIR}/embeddings.parquet"))


def bench_queries(spark, sf_dir: str) -> dict[str, dict]:
    from lacspark.queries import SPARK_QUERIES

    out = {}
    for name in QUERIES:
        t0 = time.time()
        n = SPARK_QUERIES[name](spark, sf_dir).count()
        cold = time.time() - t0
        warms = []
        for _ in range(2):
            t0 = time.time()
            SPARK_QUERIES[name](spark, sf_dir).count()
            warms.append(time.time() - t0)
        out[name] = {"rows": n, "cold": round(cold, 3),
                     "warm": round(min(warms), 3)}
    return out


def main() -> None:
    from lacspark.spark.dedup import cap_audit, cap_audit_rows
    from lacspark.spark.session import get_spark

    spark = get_spark(app_name="lacspark-bench-sf1", cores=CPUS,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    synth_sf1(spark)

    base = bench_queries(spark, SRC_SF)
    with cap_audit() as scope:
        big = bench_queries(spark, OUT_DIR)
    audit = cap_audit_rows(scope)

    report = {"sf_base": SRC_SF, "sf1_dir": OUT_DIR,
              "replicas": N_REPLICAS, "cpus": CPUS,
              "policy": "warm = best of 2 (BASELINE.md frozen policy)",
              "queries": {}, "cap_audit_sf1": audit}
    flagged = []
    for name in QUERIES:
        ratio = round(big[name]["warm"] / max(base[name]["warm"], 1e-9), 2)
        report["queries"][name] = {
            "sf01_warm": base[name]["warm"], "sf1_warm": big[name]["warm"],
            "sf01_rows": base[name]["rows"], "sf1_rows": big[name]["rows"],
            "time_ratio_at_10x_rows": ratio}
        if ratio > N_REPLICAS:
            flagged.append((name, ratio))
    report["superlinear_flags"] = [
        {"query": q, "ratio": r} for q, r in flagged]
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "BENCH_scale_sf1.json")
    with open(path, "w") as fh:
        json.dump(report, fh, indent=1)
    print(json.dumps({"total_sf1_warm": round(
        sum(v["sf1_warm"] for v in report["queries"].values()), 2),
        "flags": report["superlinear_flags"]}))
    spark.stop()


if __name__ == "__main__":
    main()
