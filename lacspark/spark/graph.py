"""K8: graph materialization — kg_vertices / kg_edges.

Vertices aggregate canonicalized mentions (aliases, frequency,
salience); edges aggregate canonicalized triples with confidence
weights and provenance counts.  Both are plain hash aggregates —
Catalyst gives partial/final (map-side combine) for free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .canonical import form
from .dedup import MD5INT


def _with_canonical(df: DataFrame, cmap: DataFrame, col: str,
                    out_prefix: str) -> DataFrame:
    """Join a surface-form column to its canonical entity.  Forms not
    in the map (len<2 or never canonicalized) are their own entity."""
    joined = df.withColumn(f"__{col}_form", form(col)).join(
        cmap.select(F.col("form").alias(f"__{col}_form"),
                    F.col("canonical").alias(f"{out_prefix}_canonical"),
                    F.col("entity_id").alias(f"{out_prefix}_id")),
        on=f"__{col}_form", how="left")
    return (joined
            .withColumn(f"{out_prefix}_canonical",
                        F.coalesce(f"{out_prefix}_canonical",
                                   f"__{col}_form"))
            .withColumn(f"{out_prefix}_id",
                        F.coalesce(f"{out_prefix}_id",
                                   F.expr(MD5INT.format(
                                       x=f"{out_prefix}_canonical"))))
            .drop(f"__{col}_form"))


def build_vertices(mentions: DataFrame, cmap: DataFrame,
                   max_aliases: int = 32) -> DataFrame:
    m = _with_canonical(mentions, cmap, "word", "entity")
    # n_tags as the size of a set, not countDistinct: a distinct
    # aggregate plans a second aggregation level with its own Exchange
    return (m.groupBy("entity_id", "entity_canonical")
            .agg(F.count(F.lit(1)).alias("n_mentions"),
                 F.sum("rank").alias("salience"),
                 F.slice(F.array_sort(F.collect_set(form("word"))),
                         1, max_aliases).alias("aliases"),
                 F.size(F.collect_set("tag")).cast("long").alias("n_tags"),
                 F.max("tag").alias("top_tag"))
            .withColumnRenamed("entity_canonical", "canonical"))


def build_edges(triples: DataFrame, cmap: DataFrame) -> DataFrame:
    """Edge weight is SALIENCE-AWARE: each provenance triple
    contributes conf × (1 + sal), where sal = subject rank + object
    rank (O17 word importance) and conf = (1 + predicate rank)/4 — an
    edge between two salient mentions outweighs one between
    throwaway tokens at equal provenance count.  Every term is an
    exact multiple of 0.25 (conf ∈ {0.25..1.0}, sal integer ≤ 6), so
    the sum is order-independent across partitionings and engines.
    ``salience`` aggregates the raw mention importance separately
    for consumers that want it unmixed."""
    t = _with_canonical(triples, cmap, "subj", "subj")
    t = _with_canonical(t, cmap, "obj", "obj")
    return (t.withColumn("pred_norm", F.lower(F.trim("pred")))
            .groupBy("subj_id", "subj_canonical", "pred_norm",
                     "obj_id", "obj_canonical")
            .agg(F.sum(F.col("conf") * (1 + F.col("sal")))
                 .alias("weight"),
                 F.sum("sal").cast("long").alias("salience"),
                 F.count(F.lit(1)).alias("n_provenance"))
            .withColumnRenamed("pred_norm", "pred"))
