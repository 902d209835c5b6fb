"""Per-partition checkpointed triple writes with lineage + metrics and
resume (north_rule: "resumable from checkpoint with per-partition lineage
+ metrics").

Layout under `out_dir`:
    triples/part=<p>/*.parquet      the graph table, partitioned
    _manifest/*.parquet             one row per COMPLETED partition:
                                    (part, n_triples, triples_digest,
                                     input_digest, written_at_ordinal)

Resume contract: a partition is the unit of recovery. On restart,
completed partitions (present in the manifest) are skipped via an
anti-join on the partition key; only missing partitions are recomputed
and appended. The manifest row is written AFTER its partition's data —
a crash between the two leaves the partition unlisted and it is safely
rewritten on resume (writes are idempotent per partition directory,
mode=overwrite by dynamic partition).

triples_digest is an order-insensitive content digest (sum of per-row
md5-longs) so byte-level equality of a resumed run vs a clean run can be
asserted cheaply per partition.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import md5_long
from .barrier import barrier


def _digest(triples: DataFrame) -> DataFrame:
    row_h = md5_long(F.concat_ws("\x1f", "subj", "pred", "obj"))
    return triples.groupBy("part").agg(
        F.count("*").alias("n_triples"),
        F.sum(row_h.cast("decimal(38,0)")).alias("triples_digest"),
    )


# ---------------------------------------------------------------- writer
# ONE writer seam for the partitioned graph table. The engine's layout is
# format-agnostic: `part` is the md5 bucket of subj (NUM_PARTS buckets)
# computed as a column (triples.py::part_of). The format switch maps it to
# the target table format's native partitioning:
#   parquet  → write.partitionBy("part")            (hive-style dirs)
#   iceberg  → table PARTITIONED BY the same precomputed `part` column
#              (identity transform over part_of's hash-bucket — byte-same
#              layout as the parquet dirs), created on first write, then
#              df.writeTo(table).overwritePartitions(): Iceberg's dynamic
#              partition overwrite replaces exactly the partitions present
#              in the batch, so a replayed partition lands ONCE — the same
#              per-partition idempotent resume contract as the parquet
#              path's dynamic partitionOverwriteMode (a plain append()
#              would duplicate a partition replayed after a crash between
#              data write and manifest row). Iceberg's snapshot metadata
#              then adds ACID commits + time travel on the same layout.
# The sandbox has no Iceberg runtime jar or catalog (TESTDATA.md), so the
# iceberg branch validates its preconditions and fails actionably instead
# of silently degrading; the no-catalog error is pytest-covered, the
# write path itself is exercised only where a catalog exists.

TRIPLE_TABLE_FORMAT = os.environ.get("SPARK_GRAFT_TRIPLE_FORMAT", "parquet")


def write_partitioned(
    triples: DataFrame, out_dir: str, fmt: str | None = None
) -> None:
    """Write the `part`-partitioned triple table — the single physical
    write point every sink path (batch job, per-stream-batch, resume)
    goes through. repartition("part") clusters each partition into one
    task's output (no small-file spray); dynamic partitionOverwriteMode
    (set by write_triples) keeps per-partition overwrite idempotent."""
    fmt = fmt or TRIPLE_TABLE_FORMAT
    if fmt == "parquet":
        (
            triples.repartition("part")
            .write.mode("overwrite")
            .partitionBy("part")
            .parquet(os.path.join(out_dir, "triples"))
        )
    elif fmt == "iceberg":
        spark = triples.sparkSession
        catalog_impls = [
            k for k in ("spark.sql.catalog.graph",)
            if spark.conf.get(k, None)
        ]
        if not catalog_impls:
            raise RuntimeError(
                "TRIPLE_TABLE_FORMAT=iceberg needs an Iceberg catalog "
                "(spark.sql.catalog.graph = org.apache.iceberg.spark."
                "SparkCatalog with a warehouse); none is configured in "
                "this session. The table is PARTITIONED BY the "
                "precomputed `part` column, the parquet layout."
            )
        table = f"graph.`{out_dir}`.triples"
        writer = triples.repartition("part").writeTo(table)
        if not triples.sparkSession.catalog.tableExists(table):
            writer.partitionedBy(F.col("part")).create()
        else:
            # dynamic overwrite of exactly the partitions in this batch —
            # idempotent per partition (resume replays land once)
            writer.overwritePartitions()
    else:
        raise ValueError(f"unknown triple table format: {fmt!r}")


def completed_parts(spark: SparkSession, out_dir: str) -> DataFrame:
    manifest_dir = os.path.join(out_dir, "_manifest")
    try:
        return spark.read.parquet(manifest_dir).select("part").distinct()
    except Exception:
        return spark.createDataFrame([], "part int")


def write_triples(
    triples: DataFrame,
    out_dir: str,
    resume: bool = True,
) -> dict:
    """Write triples partitioned by `part`, skipping completed partitions.

    Returns {"written_parts": n, "skipped_parts": n, "n_triples": n}.
    """
    spark = triples.sparkSession
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    done = completed_parts(spark, out_dir) if resume else None
    todo = triples
    n_done = 0
    if done is not None:
        n_done = done.count()
        if n_done:
            todo = triples.join(F.broadcast(done), "part", "left_anti")

    todo = barrier(todo)  # compute once: data write + manifest
    n = todo.count()
    written = 0
    if n > 0:
        write_partitioned(todo, out_dir)
        manifest = _digest(todo)
        written = manifest.count()
        manifest.write.mode("append").parquet(os.path.join(out_dir, "_manifest"))
    return {"written_parts": written, "skipped_parts": n_done, "n_triples": n}


def read_triples(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(out_dir, "triples"))
