"""Similarity search over embedding columns (build brief): brute-force
cosine top-k as the exactness baseline, and a bucketed LSH variant as the
scale path.

Both are pure native column expressions, fully oracle-checkable. The LSH
hyperplanes are exact-integer grids so the bucket assignment is
bit-reproducible in ANSI SQL (no RNG, no libm).

Perf note (r06): the original per-pair cosine / per-plane dot used
F.aggregate + F.zip_with, which are CodegenFallback — every array element
costs an interpreted lambda dispatch, and the pairwise cross join made
that N·Q·dim·3 dispatches (measured 112s of the 152s sf1.0 headline).
When the caller knows the uniform embedding dimension it passes `dim` and
the dot products unroll into whole-stage-codegen'd arithmetic that is
IEEE-bit-identical to the fold (functions/vectors.py); per-side norms are
computed once per row instead of once per pair. dim=None keeps the
original expressions — results are identical either way.

Scale notes: brute-force is queries × corpus — fine when the query set is
small (it broadcasts); the LSH variant buckets the corpus once (one
narrow projection) and joins query buckets only, turning top-k into a
per-bucket window. For 100 TB corpora the same plan holds with the bucket
table written out as a bucketed Iceberg table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import UNROLL_MAX_DIM, cosine, cosine_fixed, norm_fixed
from ..plans.skew import spread

N_PLANES = 8


def brute_force_topk(
    embs: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
) -> DataFrame:
    """For each query vector: top-k corpus neighbors by cosine (excluding
    self), deterministic tie-break on neighbor id.

    dim: uniform embedding dimension when known — enables the unrolled
    codegen'd cosine with per-row (not per-pair) norms; output identical.
    """
    q = queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("qv"))
    c = spread(embs.select(F.col(id_col).alias("n_id"), F.col(vec_col).alias("nv")), "n_id")
    if dim and dim <= UNROLL_MAX_DIM:
        q = q.withColumn("_qn", norm_fixed("qv", dim))
        c = c.withColumn("_nn", norm_fixed("nv", dim))
        cos = cosine_fixed("qv", "nv", dim, na="_qn", nb="_nn")
    else:
        cos = cosine(F.col("qv"), F.col("nv"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("q_id") != F.col("n_id"))
        .withColumn("cosine", F.round(cos, 6))
        # project BEFORE the window exchange: the embedding arrays must not
        # ride the shuffle (guide §2.3)
        .select("q_id", "n_id", "cosine")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "n_id", "cosine", "rank")
    )


def _plane_weight(p: int, d: Column) -> Column:
    """Deterministic integer hyperplane component: ((p*31 + d*17) % 13) - 6
    ∈ [-6, 6] — exact arithmetic, reproducible in any SQL engine."""
    return ((F.lit(p * 31) + d * 17) % 13 - 6).cast("double")


def _plane_weight_const(p: int, d: int) -> float:
    """_plane_weight evaluated at a literal d — same exact integer math
    (operands are non-negative, so Python % and Spark % agree)."""
    return float((p * 31 + d * 17) % 13 - 6)


def _plane_dot(vec: Column, p: int) -> Column:
    """Interpreted plane-p dot (the original fold)."""
    return F.aggregate(
        F.zip_with(
            vec,
            F.sequence(F.lit(0), F.size(vec) - 1),
            lambda x, i: x.cast("double") * _plane_weight(p, i),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _plane_dot_unrolled(vec: Column, p: int, dim: int) -> Column:
    """Codegen'd plane-p dot for size-`dim` vectors — bit-equal to
    _plane_dot: same left-to-right double accumulation from 0.0, same
    x·w operand order, weights folded to the identical double constants."""
    acc: Column = F.lit(0.0)
    for d in range(dim):
        acc = acc + vec.getItem(d).cast("double") * F.lit(_plane_weight_const(p, d))
    return acc


def _sql_plane_dot(vec: str, p: int, dim: int) -> str:
    """_plane_dot_unrolled as SQL text (weights are exact x.0 doubles,
    rendered `{w:.1f}D`) — see vectors.py build-time note: one F.expr
    parse replaces dim py4j round trips."""
    terms = " + ".join(
        f"CAST(`{vec}`[{d}] AS DOUBLE) * {_plane_weight_const(p, d):.1f}D"
        for d in range(dim)
    )
    return f"0.0D + {terms}"


# A single generated JVM method hard-caps at 64KB (Janino refuses larger;
# Spark then abandons whole-stage codegen for the span). One 64-term dot
# chain is ~10KB of source; a full unrolled 8-plane signature (512 terms)
# compiles when it is the only heavy expression in its codegen span but
# overflows when it shares a span with the pair join + cosine — which is
# why lsh_topk computes the bucket BEFORE the spread exchange (the
# exchange is the codegen-span boundary). Budget for a fully-unrolled
# signature; anything larger takes the single-pass fold below.
UNROLL_BUCKET_MAX_TERMS = 512


def plane_dots_fold(vec: Column, n_planes: int) -> Column:
    """All n_planes hyperplane dots in ONE interpreted pass — a struct
    accumulator carrying every plane's running sum, vs the original
    n_planes separate zip_with+aggregate folds (n_planes lambda
    dispatches per element). Per plane the accumulation order is the
    identical ((0.0 + t0) + t1) + … left fold, so each dot is IEEE-bit-
    equal to _plane_dot; null vectors fold to a null struct exactly as
    each per-plane fold is null. Returns struct<d0..d{n-1}>."""
    zipped = F.zip_with(
        vec,
        F.sequence(F.lit(0), F.size(vec) - 1),
        lambda x, i: F.struct(x.cast("double").alias("x"), i.alias("i")),
    )
    init = F.struct(*[F.lit(0.0).alias(f"d{p}") for p in range(n_planes)])
    return F.aggregate(
        zipped,
        init,
        lambda acc, e: F.struct(
            *[
                (acc[f"d{p}"] + e["x"] * _plane_weight(p, e["i"])).alias(f"d{p}")
                for p in range(n_planes)
            ]
        ),
    )


def bucket_from_dots(dots: Column, n_planes: int, depth: Column | None = None) -> Column:
    """Signature bits from a plane_dots_fold struct — same round/sign and
    bit assembly as lsh_bucket / lsh_bucket_gated (depth gates plane p on
    p < depth when given). Null dots (null vector) contribute 0 per
    plane, matching the fold forms. Stage the dots struct as a COLUMN
    before calling this (it is referenced once per plane; as a column the
    fold runs once and CollapseProject keeps the stages separate because
    a non-trivial producer referenced n_planes times is never inlined)."""
    bucket: Column = F.lit(0).cast("long")
    for p in range(n_planes):
        cond = F.round(dots[f"d{p}"], 6) >= 0
        if depth is not None:
            cond = (F.lit(p) < depth) & cond
        bucket = bucket + F.when(cond, F.lit(2 ** p).cast("long")).otherwise(0)
    return bucket


def lsh_bucket(
    vec: Column | str, n_planes: int = N_PLANES, dim: int | None = None
) -> Column:
    """Random-hyperplane signature: bit p = sign(plane_p · v).

    dim: uniform vector dimension when known (same caller contract as
    vectors.cosine_fixed) — plane dots unroll to codegen'd arithmetic,
    bit-equal to the fold (null vectors null every dot, so every plane
    contributes 0 and the bucket is 0 in both forms). A string `vec` is
    a column name: the whole signature renders as ONE server-parsed SQL
    expression (vectors.py build-time note). Oversized signatures
    (n_planes·dim beyond the codegen budget) fall back to the
    interpreted per-plane fold; DataFrame-level callers should stage
    plane_dots_fold + bucket_from_dots instead."""
    unroll = bool(dim) and n_planes * dim <= UNROLL_BUCKET_MAX_TERMS
    if isinstance(vec, str) and unroll:
        cases = " + ".join(
            f"CASE WHEN round({_sql_plane_dot(vec, p, dim)}, 6) >= 0 "
            f"THEN {1 << p}L ELSE 0L END"
            for p in range(n_planes)
        )
        return F.expr(f"CAST(0 AS BIGINT) + {cases}")
    if isinstance(vec, str):
        vec = F.col(vec)
    bucket: Column = F.lit(0).cast("long")
    for p in range(n_planes):
        d = _plane_dot_unrolled(vec, p, dim) if unroll else _plane_dot(vec, p)
        bucket = bucket + F.when(
            F.round(d, 6) >= 0, F.lit(2 ** p).cast("long")
        ).otherwise(0)
    return bucket


def lsh_bucket_gated(
    vec: Column, depth: Column, max_planes: int, dim: int | None = None
) -> Column:
    """Hyperplane signature whose WIDTH is data-dependent: only the first
    `depth` plane bits contribute (plane p gated on p < depth). Lets a
    per-group bucketing depth adapt to the group's size — depth 0 puts
    everything in bucket 0 — while staying one static codegen'd
    expression (no per-group expression rebuild, no extra jobs).
    dim: as in lsh_bucket."""
    unroll = bool(dim) and max_planes * dim <= UNROLL_BUCKET_MAX_TERMS
    bucket: Column = F.lit(0).cast("long")
    for p in range(max_planes):
        d = _plane_dot_unrolled(vec, p, dim) if unroll else _plane_dot(vec, p)
        bucket = bucket + F.when(
            (F.lit(p) < depth) & (F.round(d, 6) >= 0),
            F.lit(2 ** p).cast("long"),
        ).otherwise(0)
    return bucket


def probe_buckets(
    bucket: Column, n_planes: int = N_PLANES, radius: int = 1
) -> Column:
    """Multi-probe bucket set: the signature itself plus every bucket
    within Hamming distance `radius` of it (radius 1 = the n_planes
    one-bit flips — the buckets a near-boundary vector most likely hashed
    into). XOR is spelled arithmetically (b + 2^p − 2·(b & 2^p)) so the
    identical expression runs bit-equal in any SQL engine. All entries
    are distinct by construction, and each corpus vector lives in exactly
    ONE bucket, so probing never produces duplicate candidate pairs.
    Radius ≥ 2 is deliberately unsupported: the probe set grows
    C(n_planes, 2)-fold while recall gains taper — at that point add
    planes or a second independent hash table instead."""
    if radius > 1:
        raise ValueError("probe radius > 1 unsupported; use more planes")
    probes = [bucket]
    if radius >= 1:
        for p in range(n_planes):
            bit = F.lit(2 ** p).cast("long")
            probes.append(bucket + bit - 2 * bucket.bitwiseAND(bit))
    return F.array(*probes)


def lsh_topk(
    embs: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    probe_radius: int = 1,
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k: corpus bucketed by hyperplane signature; each
    query scans its own bucket plus (multi-probe, default radius 1) the
    one-bit-flip neighbor buckets — the standard recall fix for a vector
    that lands near a hyperplane and whose true neighbors straddle it.
    The corpus side is untouched (still bucketed ONCE, one narrow
    projection); only the small broadcast query side fans out ×(planes+1).
    Recall < 1 remains possible by construction (that's the
    approximation); the oracle reproduces the same probe set exactly.
    probe_radius=0 restores single-probe behavior."""
    # bucket computed BEFORE the spread exchange: the exchange is a
    # codegen-span boundary, so the 512-term unrolled signature compiles
    # in the scan span while the join+cosine span stays small (sharing
    # one span overflowed the 64KB generated-method limit and dropped the
    # whole stage out of codegen)
    c = spread(
        embs.select(
            F.col(id_col).alias("n_id"),
            F.col(vec_col).alias("nv"),
            lsh_bucket(vec_col, dim=dim).alias("bucket"),
        ),
        "n_id",
    )
    # materialize the query signature as a COLUMN first: probe_buckets
    # references its bucket argument n_planes+1 times, and inlining the
    # full signature expression there replicates the whole plane-dot tree
    # 9× (slow to compile AND to run); over a column it is computed once
    q = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("qv"),
        lsh_bucket(vec_col, dim=dim).alias("_sig"),
    ).select(
        "q_id",
        "qv",
        F.explode(probe_buckets(F.col("_sig"), radius=probe_radius)).alias("bucket"),
    )
    if dim and dim <= UNROLL_MAX_DIM:
        c = c.withColumn("_nn", norm_fixed("nv", dim))
        q = q.withColumn("_qn", norm_fixed("qv", dim))
        cos = cosine_fixed("qv", "nv", dim, na="_qn", nb="_nn")
    else:
        cos = cosine(F.col("qv"), F.col("nv"))
    scored = (
        c.join(F.broadcast(q), "bucket")
        .where(F.col("q_id") != F.col("n_id"))
        .withColumn("cosine", F.round(cos, 6))
        .select("q_id", "n_id", "cosine")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "n_id", "cosine", "rank")
    )
