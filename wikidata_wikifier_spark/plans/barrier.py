"""The engine's one materialization barrier — the Spark form of the
reference's per-stage CSV hand-off (wikifier/wikifier.py:93,210).

When a barrier pays (measured in round 6, at sf0.1 and the 10x replica):
over a subtree that is heavy in interpreted lambdas (higher-order
transforms, pandas UDFs) or that the plan references three or more times.
Over a codegen'd subtree that AQE already reuses, the extra job costs more
than the recomputation it saves, so those sites stay unbarriered.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def barrier(df: DataFrame, eager: bool = True) -> DataFrame:
    """Materialize `df` and cut its lineage.

    Reliable `checkpoint()` when the session has a checkpoint directory
    (`job.py --checkpoint-dir`), so the data outlives an executor loss;
    `localCheckpoint()` into executor storage otherwise. `eager` is Spark's
    own parameter: False defers the materialization to the first action
    that reads the result.

    A checkpoint carries its source plan's size estimate forward, and a
    join multiplies its inputs' estimates, so a loop of barriers compounds
    them: connected_components' estimate doubled its digit count every
    round until planning alone took minutes. An estimate above
    `spark.sql.defaultSizeInBytes` tells the planner nothing (it already
    assumes that size for a relation it cannot measure), so such a result
    is re-rooted on the same materialized RDD with no statistics. Smaller
    estimates stay: broadcast decisions read them.
    """
    spark = df.sparkSession
    if spark.sparkContext.getCheckpointDir():
        cp = df.checkpoint(eager)
    else:
        cp = df.localCheckpoint(eager)
    jspark = spark._jsparkSession
    rel = cp._jdf.queryExecution().analyzed()  # LogicalRDD over the materialized RDD
    if rel.stats().sizeInBytes() <= jspark.sessionState().conf().defaultSizeInBytes():
        return cp
    jvm = spark._jvm
    fresh = rel.copy(
        rel.output(), rel.rdd(), rel.outputPartitioning(), rel.outputOrdering(),
        rel.isStreaming(), rel.stream(), jspark,
        jvm.scala.Option.empty(), jvm.scala.Some(rel.constraints()),
    )
    return DataFrame(jvm.org.apache.spark.sql.classic.Dataset.ofRows(jspark, fresh), spark)
