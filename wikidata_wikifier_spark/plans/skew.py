"""Skew handling helpers (north_rule: "skew from mega-repos and head
entities is handled with salted joins and AQE").

Two layers of defense:
1. AQE skew-join splitting is ON session-wide (session.py) — oversized
   shuffle partitions are split at runtime.
2. For known-hot keys (head entity labels, mega-repos) salted_join
   replicates the small side SALT ways and scatters the big side —
   removes the hotspot before the shuffle even happens, which AQE can't
   (AQE splits a partition, but a single hot KEY still lands in one task
   for aggregations).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join big⨝small on `on` with the small side exploded SALT ways.

    big rows get a deterministic salt from a sibling hash (stable across
    retries — never rand(), which breaks task re-execution determinism).
    """
    big_s = big.withColumn(
        "_salt", F.pmod(F.abs(F.hash(F.concat_ws("\x1f", *big.columns))), F.lit(salt))
    )
    small_s = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    )
    out = big_s.join(small_s, [on, "_salt"], how)
    return out.drop("_salt")


def spread(df: DataFrame, col: str) -> DataFrame:
    """Hash-repartition `df` on `col` to 2× defaultParallelism (at least
    16) partitions, before per-row-heavy compute.

    A few-MB input arrives as 1-2 scan partitions, and AQE coalesces a
    repartition by column alone right back to 1-2 tasks: it sees only the
    shuffle bytes, not the downstream cost (shingle explode × K hashes,
    N·Q cosines, the feature chain), which is orders of magnitude larger (ann_cosine_topk at sf1.0
    ran 112 s on 2 tasks).
    An explicit partition count survives AQE coalescing and spreads that
    compute over every core. The hash on a column (never round-robin)
    keeps the layout deterministic across task retries."""
    n = max(df.sparkSession.sparkContext.defaultParallelism * 2, 16)
    return df.repartition(n, F.col(col))


# Above this many rows the exploded index-side tables (aliases, edge-ngram
# prefixes, gram prefixes) stop fitting a driver/executor broadcast at the
# real target (Wikidata: ~100M labels × ~8 grams each is tens of GB) — the
# join must shuffle instead, with salting for head keys.
BROADCAST_MAX_ROWS = 5_000_000


def size_aware_broadcast(df: DataFrame, n_rows_hint: int | None = None) -> DataFrame:
    """Broadcast-hint `df` only when it is KNOWN-small (an explicit
    n_rows_hint at or under BROADCAST_MAX_ROWS) and broadcasting is not
    disabled session-wide.

    No hint → bare df. "Unknown size" must not mean "force a driver
    broadcast": entity-scale dimensions (the ~100M-row index, per-qnode
    typing/extra-info dims) ride hintless call sites, and an unconditional
    F.broadcast() overrides spark.sql.autoBroadcastJoinThreshold=-1 and
    OOMs the driver once the side outgrows memory. Returning the bare df
    leaves the decision to the static planner's size estimate and to AQE,
    which promotes a shuffle join to broadcast at runtime from the actual
    shuffle stats (and keeps the shuffle when the side is huge)."""
    try:
        thr = df.sparkSession.conf.get("spark.sql.autoBroadcastJoinThreshold")
        if str(thr).strip() in ("-1", "-1b"):
            return df
    except Exception:
        pass
    if n_rows_hint is None or n_rows_hint > BROADCAST_MAX_ROWS:
        return df
    return F.broadcast(df)
