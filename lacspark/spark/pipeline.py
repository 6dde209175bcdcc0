"""K10 + orchestration: the full KG-construction job with salted
partitioning, per-partition lineage, and checkpoint resume.

Flow (SURVEY §4.3):

  scan(repos_files) + sha2(content) JVM-side
  → salt-repartition on pmod(xxhash64(repo, path, commit), n_buckets)   (K9)
  → tag_files (fused K1-K4 on the tagger's core, in-UDF sha verification)
  → explode_mentions / explode_triples (sent_id kept)
  → write mentions / triples / files parquet, partitioned by bucket
  → lineage append (bucket, counts, sha stats, wall)                    (K10)
  → cap_audit append (run_id, op, cap, drops) — no-silent-caps rows
  resume: source LEFT ANTI JOIN lineage-done buckets — a re-run only
  processes buckets that never committed lineage (idempotent because
  each bucket's output lands under its own partition directory).

Sandbox sink is parquet; on a production cluster the same writes
target Iceberg (`df.writeTo(...).append()` — snapshot-atomic commits
make bucket replay exactly-once rather than at-least-once).
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .canonical import canonical_map
from .graph import build_edges, build_vertices
from .kg import FILE_KEYS, tag_files
from .session import local_frame
from .tagger import explode_mentions, explode_triples

BUCKET_COL = "bucket"


def with_bucket(files: DataFrame, n_buckets: int) -> DataFrame:
    """K9 salt: hash of the full file identity, NOT just repo — a
    giant repo spreads over all buckets while rows stay whole."""
    return files.withColumn(
        BUCKET_COL,
        F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(n_buckets))
        .cast("int"))


def load_lineage(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """Lineage goes through the SAME table shim as the data tables —
    a namespace out_dir must not leak a literal './<ns>/lineage'
    directory into the driver cwd while files/mentions/triples land
    in the catalog (writer and resume-reader must agree)."""
    from .catalog import read_table
    try:
        return read_table(spark, out_dir, "lineage")
    except Exception:
        return None


def run_pipeline(spark: SparkSession, files: DataFrame, out_dir: str,
                 run_id: str | None = None, mode: str = "rank",
                 custom_lines: tuple[str, ...] = (),
                 n_buckets: int = 64, resume: bool = True,
                 build_graph: bool = True) -> dict:
    """Execute the KG job; returns run metrics.  Re-invoking with the
    same out_dir resumes: completed buckets are anti-joined away."""
    run_id = run_id or uuid.uuid4().hex[:12]
    t_start = time.time()

    files = files.withColumn("content_sha256", F.sha2("content", 256))
    files = with_bucket(files, n_buckets)

    lineage = load_lineage(spark, out_dir) if resume else None
    if lineage is not None:
        done = lineage.filter(F.col("status") == "ok") \
            .select(BUCKET_COL).distinct()
        files = files.join(F.broadcast(done), BUCKET_COL, "left_anti")

    files = files.repartition(n_buckets, BUCKET_COL)
    tagged = tag_files(files, mode=mode, custom_lines=custom_lines)
    tagged = tagged.persist()

    keys = FILE_KEYS + [BUCKET_COL]
    mentions = explode_mentions(tagged, keys)
    triples = explode_triples(tagged, keys)

    # dynamic partition overwrite (set in session.py): a bucket that
    # crashed mid-write is REPLACED on replay, never double-appended —
    # per-bucket exactly-once in parquet mode; with an Iceberg catalog
    # configured, catalog.write_table routes to snapshot-atomic
    # writeTo() instead
    from .catalog import write_table

    write_table(tagged.select(*keys, "content_sha256", "n_lines",
                              "n_tokens", "sha_ok"),
                out_dir, "files", "overwrite", [BUCKET_COL])
    write_table(mentions, out_dir, "mentions", "overwrite", [BUCKET_COL])
    write_table(triples, out_dir, "triples", "overwrite", [BUCKET_COL])

    # per-bucket lineage metrics (K10): committed only after the
    # bucket's data writes above succeeded.
    stats = (tagged.groupBy(BUCKET_COL)
             .agg(F.count(F.lit(1)).alias("n_files"),
                  F.sum("n_lines").alias("n_lines"),
                  F.sum("n_tokens").alias("n_tokens"),
                  F.sum(F.expr("size(mentions)")).alias("n_mentions"),
                  F.sum(F.expr("size(triples)")).alias("n_triples"),
                  F.sum(F.col("sha_ok").cast("long")).alias("n_sha_ok"))
             .withColumn("n_sha_bad", F.col("n_files") - F.col("n_sha_ok")))
    # the run's own values join the rows on the driver: a literal in
    # the aggregate would be compiled into its generated class, and
    # a per-run value (wall_ms) makes that class new on every run
    wall_ms = int((time.time() - t_start) * 1000)
    # collect once, then persist lineage from the collected rows —
    # re-evaluating stats after the append would see its own output.
    # The commit time is stamped JVM-side, at the write.
    stat_rows = stats.collect()
    if stat_rows:
        schema = T.StructType(stats.schema.fields + [
            T.StructField("run_id", T.StringType(), False),
            T.StructField("status", T.StringType(), False),
            T.StructField("wall_ms", T.IntegerType(), False)])
        write_table(local_frame(
            spark, [tuple(r) + (run_id, "ok", wall_ms) for r in stat_rows],
            schema).withColumn("committed_at", F.current_timestamp()),
            out_dir, "lineage", "append")

    n_files = sum(r.n_files for r in stat_rows)
    n_triples = sum(r.n_triples for r in stat_rows)
    sha_bad = sum(r.n_sha_bad for r in stat_rows)

    audit: list[dict] = []
    if build_graph and n_files:
        # read back through the same shim the writes used — writer
        # and reader always resolve to the same storage (catalog
        # table or parquet path), never a mix
        from .catalog import read_table
        from .dedup import cap_audit, cap_audit_rows

        all_mentions = read_table(spark, out_dir, "mentions")
        all_triples = read_table(spark, out_dir, "triples")
        with cap_audit() as scope:  # THIS run's graph phase only
            cmap = canonical_map(all_mentions)
            write_table(build_vertices(all_mentions, cmap), out_dir,
                        "kg_vertices", "overwrite")
            write_table(build_edges(all_triples, cmap), out_dir,
                        "kg_edges", "overwrite")
        # no-silent-caps lineage: every degenerate-bucket cap the
        # canonicalization hit this run, as rows next to the
        # per-bucket lineage table (zeros prove the caps were inert)
        audit = cap_audit_rows(scope)
        if audit:
            audit_df = local_frame(
                spark,
                [(run_id, r["op"], r["unit"], r["cap"],
                  r["n_units_capped"], r["n_rows_dropped"])
                 for r in audit],
                "run_id string, op string, unit string, cap long, "
                "n_units_capped long, n_rows_dropped long",
            ).withColumn("committed_at", F.current_timestamp())
            write_table(audit_df, out_dir, "cap_audit", "append")

    tagged.unpersist()
    wall = time.time() - t_start
    return {
        "run_id": run_id,
        "n_files": n_files,
        "n_triples": n_triples,
        "n_sha_bad": sha_bad,
        "n_buckets_processed": len(stat_rows),
        "cap_audit": audit,
        "wall_sec": wall,
        "triples_per_sec": n_triples / wall if wall else 0.0,
    }
