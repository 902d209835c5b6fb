"""Continuous KG construction: stream the source-repo table through the
SAME batch wikify pipeline via foreachBatch (SURVEY.md §2.6 capability
extension; north_star: the engine ingests repositories as they arrive and
appends triples incrementally).

Why foreachBatch and not a fully-streaming DAG: the wikification plan
contains iterative stages (CC), multi-pass aggregates, and materialization
barriers that Structured Streaming's incremental planner cannot express.
foreachBatch hands each micro-batch to the UNCHANGED batch pipeline — one
code path, identical semantics batch vs stream (the test asserts triple
equality), which is exactly the reference's chain re-run per input table,
made continuous.

Scale: each micro-batch is an independent bounded job; the entity index
is a long-lived dimension reused across batches; per-batch triples append
to the partitioned triple sink through the same resume-safe writer
(plans/checkpoint.py), so a failed batch replays idempotently — the
engine's exactly-once story is (streaming checkpoint dir) × (per-partition
manifest).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .. import pipeline


def wikify_stream(
    source_stream: DataFrame,
    index: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    edges: DataFrame | None = None,
    k: int = 1,
    on_batch=None,
):
    """source-repo file stream → triples appended to out_dir per batch:
    each micro-batch runs pipeline.build_graph into out_dir/batch_<id>,
    the batch job's graph-build path.

    on_batch: optional callable(batch_id, write_stats) invoked after each
    batch's triple write — the metrics hook (and the crash-injection seam
    the mid-stream resume test uses). An exception here, or anywhere in
    the batch, fails the query BEFORE the batch commits to the streaming
    checkpoint; on restart the batch REPLAYS with the same id and
    the triple writer's per-partition manifest makes the replay a no-op
    (skipped_parts == its previously written parts) — the exactly-once
    story is (streaming checkpoint) × (partition manifest).

    Returns the StreamingQuery; callers stop it or await termination.
    """

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        stats = pipeline.build_graph(
            batch_df, index, f"{out_dir}/batch_{batch_id}",
            edges=edges, k=k, salt=None, resume=True,
        )
        if on_batch is not None:
            on_batch(batch_id, stats)

    return (
        source_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
