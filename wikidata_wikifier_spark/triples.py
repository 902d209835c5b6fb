"""Triple materialization: links → (subj, pred, obj) partitioned tables
(north_rule: "materializes (subj, pred, obj) triples into partitioned
Iceberg graph tables with per-partition lineage and metrics").

Partition key: md5 hash-bucket of subj (NUM_PARTS buckets) — uniform even
for head entities because the bucket is on the canonical subject, and
triple volume per subject is bounded by mention count, which AQE
skew-split handles during the upstream join. The bucket is
md5_long(subj) % NUM_PARTS (functions/hashing.py), which DuckDB
reproduces, so the `triples_emit` oracle checks the partition column too.
Parquet partitionBy here; on a cluster the same write targets an Iceberg
table partitioned by `part` (bucket transform).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .functions.hashing import md5_long
from .plans.barrier import barrier

NUM_PARTS = 16
PRED_MENTIONED_IN = "P:mentionedIn"
PRED_SAME_AS = "P:sameAs"
PRED_INSTANCE_OF = "P31"


def part_of(col):
    return (md5_long(col) % NUM_PARTS).cast("int")


def links_to_triples(
    links: DataFrame, index: DataFrame, idx_rows: int | None = None
) -> DataFrame:
    """Emit per matched link (match == 1):
    - (canonical_qnode, P:mentionedIn, repo:path@sha)   provenance triple
    - (qnode, P:sameAs, canonical_qnode)                 when canonicalized
    - (canonical_qnode, P31, class)                      entity typing
    plus the `part` bucket of subj.
    """
    base = links.where(F.col("match") == 1)
    subj = F.coalesce(F.col("canonical_qnode"), F.col("qnode"))
    if "canonical_qnode" not in base.columns:
        base = base.withColumn("canonical_qnode", F.col("qnode"))
    # three triple families read `base` — without a barrier the whole
    # upstream links DAG (incl. the corpus-scale mention fan-out join)
    # executes 3×
    base = barrier(base)

    mentioned = base.select(
        subj.alias("subj"),
        F.lit(PRED_MENTIONED_IN).alias("pred"),
        F.concat_ws("", F.col("repo"), F.lit(":"), F.col("path"), F.lit("@"),
                    F.col("content_sha256")).alias("obj"),
    )
    same_as = (
        base.where(F.col("canonical_qnode") != F.col("qnode"))
        .select(
            F.col("qnode").alias("subj"),
            F.lit(PRED_SAME_AS).alias("pred"),
            F.col("canonical_qnode").alias("obj"),
        )
        .distinct()
    )
    # the typing dim is the FULL entity index (~100M rows at the Wikidata
    # target — multi-GB): size-aware, never an unconditional broadcast.
    # Callers thread the same idx_rows hint the pipeline's other
    # index-dimension joins use; hintless → shuffle join + AQE promotion.
    from .plans.skew import size_aware_broadcast

    typed = (
        base.select(subj.alias("subj"), F.col("qnode").alias("orig"))
        .join(
            size_aware_broadcast(
                index.select(F.col("qnode").alias("orig"), "class"), idx_rows
            ),
            "orig",
        )
        .select("subj", F.lit(PRED_INSTANCE_OF).alias("pred"), F.col("class").alias("obj"))
        .distinct()
    )
    triples = mentioned.unionByName(same_as).unionByName(typed)
    return triples.withColumn("part", part_of(F.col("subj")))
