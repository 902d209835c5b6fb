"""Connected components over alias/sameAs edges — the canonicalization
pass (BASELINE.json north_rule; no reference counterpart — SURVEY.md §7.7).

Algorithm: min-label propagation with pointer doubling, expressed as
DataFrame joins:

    comp(u) ← min(comp(u), min_{(u,v)∈E} comp(v))      (neighbor step)
    comp(u) ← min(comp(u), comp(comp(u)))               (doubling step)

Both steps per round. After round r every label is at most the minimum id
within r hops (doubling only lowers it further), so a component of
diameter d is fully labeled after d rounds and the loop stops one round
later: it always reaches the fixpoint, with no round cap. Doubling helps
when ids rise along a path (the id-sorted 100-node chain fixture takes 7
rounds) and much less when they are shuffled (shuffled chains of 40, 50
and 100 nodes took 21, 24 and 38 rounds). At fixpoint every edge has
comp(u) == comp(v) and each component is labeled by its MINIMUM member
id — deterministic across runs and parallelism levels, matching the
DuckDB recursive-CTE oracle's min(reachable) semantics.

Scale notes: each round is two equi-joins keyed by node — shuffle
partitioned on the node key, AQE-coalesced. Lineage is cut every round
(plans/barrier.py) so the plan depth stays O(1). Convergence is derived
from the doubling join ITSELF: each round carries a `changed` flag (new
label ≠ round-start label) and the LAZY barrier is materialized by the
changed-row count — ONE job per round doing both the barrier and the
convergence test.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.barrier import barrier


def _symmetrize(edges: DataFrame) -> DataFrame:
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return edges.unionByName(rev).where(F.col("src") != F.col("dst")).distinct()


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """edges(src,dst) → (node, component); component = min member id."""
    e = barrier(
        _symmetrize(
            edges.select(
                F.col(src).cast("string").alias("src"),
                F.col(dst).cast("string").alias("dst"),
            )
        )
    )

    # Iterative rounds pay per-task overhead every round; size the working
    # width to the graph, not the session default (a 1k-edge alias graph on
    # 64 shuffle partitions is ~10 jobs of overhead and no compute). At
    # cluster scale n_edges drives the width up to 2x parallelism.
    n_edges = e.count()
    spark = edges.sparkSession
    dp = spark.sparkContext.defaultParallelism
    width = int(max(4, min(dp * 2, n_edges // 50_000 + 4)))
    # keyed by dst: the barrier scan has no partitioning metadata, so
    # this explicit repartition is re-planned in EVERY round — keying it
    # by the neighbor join's own key lets it double as that join's
    # exchange instead of adding a src-keyed shuffle the join immediately
    # re-shuffles (one exchange per round saved; hash spread identical)
    e = e.repartition(width, "dst")

    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col(src).cast("string").alias("node")))
        .unionByName(edges.select(F.col(dst).cast("string").alias("node")))
        .distinct()
    )
    # lazy: round 1's convergence-count job materializes it (both comp
    # references inside that job share the one RDD), saving the separate
    # eager-materialization job
    comp = barrier(nodes.withColumn("comp", F.col("node")), eager=False)

    while True:
        # neighbor step: min of neighbor labels (round-start label kept as
        # `prev` so the round's change count falls out of the same plan)
        nbr_min = (
            e.join(
                comp.select(F.col("node").alias("dst"), F.col("comp").alias("dcomp")),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("dcomp").alias("nmin"))
            .withColumnRenamed("src", "node")
        )
        stepped = comp.join(nbr_min, "node", "left").select(
            "node",
            F.col("comp").alias("prev"),
            F.least(F.col("comp"), F.coalesce(F.col("nmin"), F.col("comp"))).alias(
                "comp"
            ),
        )
        # doubling step: follow the label one hop (comp(comp(u)))
        newc = F.least(F.col("a.comp"), F.coalesce(F.col("lcomp"), F.col("a.comp")))
        doubled = barrier(
            stepped.alias("a")
            .join(
                stepped.select(
                    F.col("node").alias("lnode"), F.col("comp").alias("lcomp")
                ).alias("b"),
                F.col("a.comp") == F.col("b.lnode"),
                "left",
            )
            .select(
                F.col("a.node").alias("node"),
                newc.alias("comp"),
                (newc != F.col("a.prev")).alias("changed"),
            ),
            # lazy: the changed-count action below materializes it —
            # lineage cut + convergence test in ONE job per round
            eager=False,
        )
        n_changed = doubled.where(F.col("changed")).count()
        comp = doubled.drop("changed")
        if n_changed == 0:
            return comp.select("node", F.col("comp").alias("component"))
