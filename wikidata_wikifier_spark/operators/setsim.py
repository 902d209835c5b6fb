"""The engine's one set-similarity join (ppjoin family; MF-Join's filter
stack over one gram order): generate-then-verify Jaccard over set tables
(id, [on…], g, n) of unique ids, distinct gram arrays g and n = size(g).
Trigram/fuzzy retrieval (candidates.py) and the n-gram and MinHash dedup
verify (dedup.py) run on it.

Every caller keeps round(J, 6) ≥ t, which holds exactly when J ≥ t' =
t − 5e-7 (half-up rounding). Every filter bound is derived from t' in
integer arithmetic (`_reaches`), so recall is exact at any set size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..plans.barrier import barrier
from ..plans.skew import size_aware_broadcast


def _reaches(o_max, u_min, t: float):
    """o_max / u_min ≥ t' with t' = (2·round(t·10⁶) − 1) / (2·10⁶) exactly:
    an overlap of at most `o_max` over a union of at least `u_min` can
    still pass the verify. Python ints or long columns (int would wrap)."""
    return o_max * 2_000_000 >= u_min * (2 * round(t * 1_000_000) - 1)


def _side(df: DataFrame, x: str, cols: tuple[str, ...], *keep: str) -> DataFrame:
    """One side of a pair join: id → `x`, each of `cols` suffixed by `x`."""
    return df.select(F.col("id").alias(x), *keep, *[F.col(c).alias(c + x) for c in cols])


def _prefix(
    sets: DataFrame, gdf: DataFrame, t: float, on: list[str], rows: int | None, how: str
) -> DataFrame:
    """(id, [on…], s, n, rk): each set's prefix grams s, rk the 1-based
    rank in (gdf, s) order, rarest first (df 0 if missing from `gdf`).
    J ≥ t' needs o ≥ t'·n and n − rk + 1 grams sort at-or-after rank rk,
    so the prefix is the n − ⌈t'·n⌉ + 1 ranks that can still reach t'·n:
    a passing pair shares a gram in both prefixes, head grams rarely do."""
    n = F.col("n").cast("long")
    return (
        sets.select("id", *on, "n", F.explode("g").alias("s"))
        .join(size_aware_broadcast(gdf, rows), [*on, "s"], how)
        .na.fill({"gdf": 0})
        .withColumn("rk", F.row_number().over(Window.partitionBy("id").orderBy("gdf", "s")))
        .where(_reaches(n - F.col("rk") + 1, n, t))
        .select("id", *on, "s", "n", "rk")
    )


def prefix_pairs(
    left: DataFrame, right: DataFrame, t: float, *, on: tuple[str, ...] = (), rows: int | None = None
) -> DataFrame:
    """Prefix collisions (a, b, na, nb, rka, rkb) of `left` against
    `right` within equal `on` values, one row per shared prefix gram.

    Gram df is counted over `right` within `on`. For a self-join pass the
    same DataFrame twice: its prefix is then one barrier read by both
    sides (its window otherwise re-runs per side, measured 5.2 s/pass).
    `rows`, the right side's row count when known, hints the df table and
    the right prefix as broadcast sides; None leaves the join strategy to
    the planner and AQE."""
    on = list(on)
    gdf = right.select(*on, F.explode("g").alias("s")).groupBy(*on, "s").agg(
        F.count("*").alias("gdf")
    )
    rpre = _prefix(right, gdf, t, on, rows, "inner")
    if left is right:
        lpre = rpre = barrier(rpre)
    else:
        lpre = _prefix(left, gdf, t, on, rows, "left")
    keep = [*on, "s"]
    return (
        _side(lpre, "a", ("n", "rk"), *keep)
        .join(size_aware_broadcast(_side(rpre, "b", ("n", "rk"), *keep), rows), keep)
        .select("a", "b", "na", "nb", "rka", "rkb")
    )


def could_reach(t: float) -> Column:
    """Positional filter over prefix_pairs rows: at a pair's first
    collision (ranks rka, rkb) o ≤ min_rem = min(na − rka, nb − rkb) + 1,
    so J ≤ min_rem / (na + nb − min_rem); a passing pair keeps its first
    collision. Dedup only: fuzzy retrieval thresholds edit distance on
    the same collisions, which this bound says nothing about."""
    na, nb = F.col("na").cast("long"), F.col("nb").cast("long")
    min_rem = F.least(na - F.col("rka") + 1, nb - F.col("rkb") + 1)
    return _reaches(min_rem, na + nb - min_rem, t)


def with_jaccard(pairs: DataFrame, left: DataFrame, right: DataFrame) -> DataFrame:
    """`pairs` (a, b, …) plus na, nb, the exact overlap `o` of the two gram
    sets and jaccard = round(o / (na + nb − o), 6). A broadcast hint on
    `left` or `right` carries through to its join."""
    return (
        pairs.join(_side(left, "a", ("g", "n")), "a")
        .join(_side(right, "b", ("g", "n")), "b")
        .withColumn("o", F.size(F.array_intersect("ga", "gb")))
        .withColumn("jaccard", F.round(F.col("o") / (F.col("na") + F.col("nb") - F.col("o")), 6))
        .drop("ga", "gb")
    )
