"""Deduplication operators over a document corpus — first-class
training-data-pipeline ops (build brief: exact, MinHash+LSH, SimHash,
n-gram Jaccard, embedding-cosine).

All hashing is the md5-derived 60-bit family (functions/hashing.py) so
every operator is reproducible in ANSI SQL for the driver's DuckDB oracle.
Everything below is NATIVE column expressions — zero Python UDFs.

Scale design:
- exact: one groupBy on the 60-bit content hash (map-side combine).
- MinHash/LSH: per-doc signatures are a single groupBy over exploded
  shingles (K min-aggregates); the LSH band join touches only docs
  sharing a band bucket — the classic O(candidates) instead of O(n²).
- SimHash: 60-bit signature, 6 bands of 10 bits; pigeonhole guarantees
  hamming≤3 pairs share ≥1 band, so the self-join is band-bucketed,
  never all-pairs.
- n-gram Jaccard: gram-inverted-index join blocked by lang, prefix- and
  positional-filtered; it and the MinHash verify run on the
  set-similarity join in setsim.py, the one copy of the gram order, the
  filter bounds and the Jaccard verify.
- embedding cosine: blocked by cluster label (coarse quantization) —
  the IVF pattern: compare only within the same coarse cell.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import affine_hash_family, md5_long
from ..functions.vectors import UNROLL_MAX_DIM, cosine, cosine_fixed, norm_fixed
from ..plans.barrier import barrier
from ..plans.skew import spread
from . import setsim

MINHASH_K = 16
MINHASH_BANDS = 4  # 4 rows per band
MINHASH_VERIFY_JACCARD = 0.7
# 60 bits (the full md5-derived 60-bit hash), 6 bands × 10 bits:
# pigeonhole still guarantees hamming ≤ 3 pairs share a band (needs ≥ 4
# bands), and the wider signature keeps band buckets from saturating at
# corpus scale (a 32-bit/8-bit-band signature has only 256 bucket values
# per band — every doc collides at 100 TB)
SIMHASH_BITS = 60
SIMHASH_BANDS = 6
SIMHASH_MAX_HAMMING = 3
NGRAM_N = 4
NGRAM_JACCARD_MIN = 0.8
COSINE_DUP_MIN = 0.4  # synthetic clusters are loose; tune per-corpus


def norm_text(col: Column) -> Column:
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def word_tokens(col: Column) -> Column:
    return F.filter(F.split(norm_text(col), " "), lambda t: t != "")


def word_shingles(col: Column, w: int = 3) -> Column:
    """Array of w-word shingles (space-joined)."""
    toks = word_tokens(col)
    n = F.size(toks) - F.lit(w - 1)
    return F.when(n <= 0, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), n - 1),
            lambda i: F.concat_ws(" ", *[F.element_at(toks, (i + j + 1).cast("int")) for j in range(w)]),
        )
    )


def distinct_char_ngrams(text_col: Column, n: int) -> Column:
    """array_distinct(char_ngrams(·, n)) over the NORMALIZED text as one
    vectorized Arrow batch op.

    The native form pays an interpreted transform lambda + substr eval
    PER GRAM (CodegenFallback) — measured 16.4s of the ngram-jaccard
    sets pass at sf0.1 vs ~3s vectorized. Slicing is by CODE POINTS, like
    the native form (Spark's UTF8String length/substr count code points)
    and the DuckDB oracle's substr, non-BMP text included — pinned by
    test_distinct_char_ngrams_matches_native.
    First-occurrence dedup (dict.fromkeys) ≡ array_distinct; null text →
    null, len < n → [], like the native when() branches."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, StringType

    @pandas_udf(ArrayType(StringType()))
    def _ng(t):  # type: ignore[no-untyped-def]
        def mk(s):
            if s is None:
                return None
            if len(s) < n:
                return []
            return list(dict.fromkeys(s[i : i + n] for i in range(len(s) - n + 1)))

        return t.apply(mk)

    return _ng(text_col)


def distinct_shingles3(tok_col: Column) -> Column:
    """array_distinct(word_shingles(·, w=3)) over a PRE-TOKENIZED array,
    as one vectorized Arrow batch op.

    The native form pays an interpreted lambda dispatch plus 3 element_at
    evals PER SHINGLE (transform/element_at are CodegenFallback) —
    measured 4.4s of the 4.7s shingle pass at sf1.0, while tokenization
    itself (split, codegen'd) is 0.3s. Joining 3 tokens with a space and
    first-occurrence-deduping is pure byte manipulation, identical in
    Python and the JVM for any UTF-8 content (no locale/regex semantics
    involved — those stay in the native word_tokens), so the batch UDF is
    byte-exact to the native form incl. element order:
      null tokens (null text)  → null, like transform over null
      len < 3                  → [], like the when() empty branch
      dict.fromkeys            → array_distinct's first-occurrence dedup
    Only the token column crosses the Python boundary (guide §4.1)."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, StringType

    @pandas_udf(ArrayType(StringType()))
    def _sh3(toks):  # type: ignore[no-untyped-def]
        def mk(t):
            if t is None:
                return None
            n = len(t) - 2
            if n <= 0:
                return []
            return list(dict.fromkeys(" ".join(t[i : i + 3]) for i in range(n)))

        return toks.apply(mk)

    return _sh3(tok_col)


# ----------------------------------------------------------------- exact

def exact_duplicates(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Hash-groupBy exact dedup: (doc_id, group_id=min id of identical
    text, group_size, is_canonical).

    The (id, h) subtree is referenced twice (group aggregate + join-back
    side) so the scan + md5 run twice — measured r06 A/B at sf0.1 and the
    10x replica: a barrier costs MORE than the second cached-parquet scan
    at both scales (+0.2s fixed job overhead vs a ~free re-scan), so the
    double-reference stays. The join shape is kept
    over a window-over-h alternative deliberately: a single hot duplicate
    text would land one window task with the whole group, while the join
    is AQE-skew-splittable."""
    h = docs.select(id_col, md5_long(norm_text(F.col(text_col))).alias("h"))
    groups = h.groupBy("h").agg(
        F.min(id_col).alias("group_id"), F.count("*").alias("group_size")
    )
    return (
        h.join(groups, "h")
        .select(
            id_col,
            "group_id",
            "group_size",
            (F.col(id_col) == F.col("group_id")).cast("int").alias("is_canonical"),
        )
    )


# --------------------------------------------------------------- minhash

def minhash_lsh_pairs(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """MinHash+LSH near-dup pairs with exact-Jaccard verification.

    band hash = md5-long of the band's 4 signature values → self-join on
    (band, band_hash) → distinct candidate pairs → verify true shingle
    Jaccard ≥ 0.7. Output (a, b, jaccard) with a < b.

    Perf (r06): the distinct-shingle-set table is computed ONCE behind a
    barrier — the signature branch and the verify branch both read it.
    The previous plan evaluated the (interpreted higher-order) shingle
    transform twice, once per branch — measured ~4.8s per pass of the 15s
    total at sf1.0. Signatures derived from the materialized distinct
    sets are identical: minhash mins are order-insensitive and the
    explode input was already array_distinct'ed.
    """
    sets = barrier(
        spread(docs, id_col)
        .select(F.col(id_col).alias("id"), word_tokens(F.col(text_col)).alias("t"))
        .select("id", distinct_shingles3(F.col("t")).alias("g"))
        .withColumn("n", F.size("g"))
    )
    sh = sets.select("id", F.explode("g").alias("s"))
    aggs = [
        F.min(affine_hash_family(F.col("s"), i)).alias(f"h{i}")
        for i in range(MINHASH_K)
    ]
    sig = sh.groupBy("id").agg(*aggs)
    rows_per_band = MINHASH_K // MINHASH_BANDS
    bands = []
    for b in range(MINHASH_BANDS):
        cols = [f"h{b * rows_per_band + r}" for r in range(rows_per_band)]
        bands.append(
            F.struct(
                F.lit(b).alias("band"),
                md5_long(F.concat_ws("_", *[F.col(c).cast("string") for c in cols])).alias("bh"),
            )
        )
    banded = sig.select(
        "id", F.explode(F.array(*bands)).alias("bb")
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))

    left = banded.select(F.col("id").alias("a"), "band", "bh")
    right = banded.select(F.col("id").alias("b"), "band", "bh")
    cand = (
        left.join(right, ["band", "bh"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    return (
        setsim.with_jaccard(cand, sets, sets)
        .where(F.col("jaccard") >= MINHASH_VERIFY_JACCARD)
        .select("a", "b", "jaccard")
    )


# --------------------------------------------------------------- simhash

def simhash(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """60-bit SimHash per doc from word-token hashes (native bit ops)."""
    toks = spread(docs, id_col).select(
        id_col, F.explode(F.array_distinct(word_tokens(F.col(text_col)))).alias("t")
    ).withColumn("h", md5_long(F.col("t")))
    bit_sums = toks.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{i}")
            for i in range(SIMHASH_BITS)
        ]
    )
    sig: Column = F.lit(0).cast("long")
    for i in range(SIMHASH_BITS):
        sig = sig + F.when(F.col(f"b{i}") > 0, F.lit(2 ** i).cast("long")).otherwise(0)
    return bit_sums.select(id_col, sig.alias("simhash"))


def simhash_pairs(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Near-dup pairs at hamming ≤ 3 via 10-bit band bucketing of the
    60-bit signature (pigeonhole: 6 bands, ≤3 differing bits → at least
    one band identical; ≥4 bands is the requirement, 6 keeps each band's
    bucket space at 2^10 so buckets don't saturate at corpus scale)."""
    sig = simhash(docs, text_col, id_col)
    bits_per_band = SIMHASH_BITS // SIMHASH_BANDS
    bands = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright(F.col("simhash"), b * bits_per_band)
            .bitwiseAND(F.lit((1 << bits_per_band) - 1))
            .alias("bh"),
        )
        for b in range(SIMHASH_BANDS)
    ]
    banded = sig.select(id_col, "simhash", F.explode(F.array(*bands)).alias("bb")).select(
        id_col, "simhash", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh")
    )
    left = banded.select(F.col(id_col).alias("a"), F.col("simhash").alias("sa"), "band", "bh")
    right = banded.select(F.col(id_col).alias("b"), F.col("simhash").alias("sb"), "band", "bh")
    # r06: hamming filter BEFORE the distinct (guide §2.3 — shuffle fewer
    # bytes). The verify predicate is a codegen'd bit_count over columns
    # already in hand, so it costs nothing per joined row, while the
    # distinct's exchange previously carried EVERY band-join survivor
    # (27M pairs at sf1.0) only to drop almost all of them afterwards.
    # Output identical: each id has exactly one simhash, so hamming is a
    # pure function of (a, b) and dedup-then-filter ≡ filter-then-dedup.
    return (
        left.join(right, ["band", "bh"])
        .where(F.col("a") < F.col("b"))
        .withColumn("hamming", F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))))
        .where(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .select("a", "b", "hamming")
        .distinct()
    )


# --------------------------------------------------------- ngram jaccard

def ngram_jaccard_pairs(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", block_col: str = "lang"
) -> DataFrame:
    """Char-4-gram Jaccard ≥ 0.8 pairs, blocked by `block_col` (lang).

    A self-join of the set-similarity join (setsim.py), recall-exact:
    each doc joins only on its rarest-fifth prefix (gram df within the
    block), collisions pass the positional filter before the distinct
    (measured 2.45M collision pairs at sf0.1 without it, all feeding the
    array-intersect verify), and the 6-dp Jaccard is verified on the
    candidates' full gram sets."""
    # r06: the gram-set table is Arrow-vectorized (distinct_char_ngrams —
    # the interpreted per-gram transform was 16.4s of the sf0.1 pass) and
    # behind a barrier: the gram df, the prefix and both verify sides
    # read it, which re-ran the gram build per reference
    sets = barrier(
        spread(
            docs.select(
                F.col(id_col).alias("id"),
                F.col(block_col).alias("blk"),
                distinct_char_ngrams(norm_text(F.col(text_col)), NGRAM_N).alias("g"),
            ).withColumn("n", F.size("g")),
            "id",
        )
    )
    t = NGRAM_JACCARD_MIN
    cand = (
        setsim.prefix_pairs(sets, sets, t, on=("blk",))
        .where(F.col("a") < F.col("b"))
        .where(setsim.could_reach(t))
        .select("a", "b")
        .distinct()
    )
    return (
        setsim.with_jaccard(cand, sets, sets)
        .where(F.col("jaccard") >= t)
        .select("a", "b", "jaccard")
    )


# ----------------------------------------------------- embedding cosine

# A block larger than this goes quadratic in the self-join; above it,
# pairs are restricted to matching hyperplane sub-buckets whose DEPTH
# adapts to the block size (depth d = smallest d with block ≤ cap·2^d,
# up to COSINE_MAX_PLANES), so expected bucket size stays ≤ cap no matter
# how hot the block. A hot cluster label at 100 TB (one label holding
# millions of vectors) otherwise produces an O(B²) task that no amount of
# executors absorbs.
COSINE_BLOCK_CAP = 64
COSINE_MAX_PLANES = 12


def embedding_cosine_pairs(
    embs: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    block_col: str = "label",
    threshold: float = COSINE_DUP_MIN,
    block_cap: int = COSINE_BLOCK_CAP,
    dim: int | None = None,
) -> DataFrame:
    """Near-dup pairs by cosine ≥ threshold, blocked by the coarse cluster
    label (IVF-style: only same-cell comparisons), with HOT-BLOCK SAFETY:
    blocks over block_cap vectors additionally require matching hyperplane
    sub-buckets (deterministic integer LSH, similarity.lsh_bucket), so the
    join key itself caps the fan-out — the quadratic blowup never
    materializes, at the usual LSH recall tradeoff for far-apart pairs
    inside hot blocks (near-identical vectors share sub-buckets with high
    probability). The sub-bucket depth ADAPTS to the block size (integer
    threshold chain, engine-exact — no float log2 at the boundary), so a
    million-vector hot block gets 2^ceil(log2(B/cap)) buckets, not a fixed
    8. Mirrored exactly in the DuckDB oracle."""
    from .similarity import bucket_from_dots, plane_dots_fold

    v = spread(
        embs.select(
            F.col(id_col).alias("id"), F.col(block_col).alias("blk"), F.col(vec_col).alias("v")
        ),
        "id",
    )
    sizes = v.groupBy("blk").agg(F.count("*").alias("_bn"))
    depth = F.when(F.col("_bn") <= block_cap, F.lit(0))
    for d in range(1, COSINE_MAX_PLANES):
        depth = depth.when(F.col("_bn") <= block_cap * (2 ** d), F.lit(d))
    depth = depth.otherwise(F.lit(COSINE_MAX_PLANES))
    # 12-plane signature: plane dots in ONE staged fold pass (bit-equal
    # to the former lsh_bucket_gated's 12 separate folds — similarity.py
    # plane_dots_fold), assembled with the depth gate from the struct
    # column. A fully-unrolled 12×dim chain overflows the 64KB generated-
    # method cap at dim 64, so the fold is the scalable form here.
    v = (
        v.join(F.broadcast(sizes), "blk")
        .withColumn("_pd", plane_dots_fold(F.col("v"), COSINE_MAX_PLANES))
        .withColumn("sub", bucket_from_dots(F.col("_pd"), COSINE_MAX_PLANES, depth))
        .drop("_pd")
    )
    # per-row norms computed ONCE before the self-join (per pair they were
    # recomputed twice); unrolled codegen'd cosine when dim is known —
    # bit-equal either way (functions/vectors.py)
    if dim and dim <= UNROLL_MAX_DIM:
        v = v.withColumn("_n", norm_fixed("v", dim))
        cos = cosine_fixed("va", "vb", dim, na="_na", nb="_nb")
        a = v.select(F.col("id").alias("a"), "blk", "sub",
                     F.col("v").alias("va"), F.col("_n").alias("_na"))
        b = v.select(F.col("id").alias("b"), "blk", "sub",
                     F.col("v").alias("vb"), F.col("_n").alias("_nb"))
    else:
        cos = cosine(F.col("va"), F.col("vb"))
        a = v.select(F.col("id").alias("a"), "blk", "sub", F.col("v").alias("va"))
        b = v.select(F.col("id").alias("b"), "blk", "sub", F.col("v").alias("vb"))
    return (
        a.join(b, ["blk", "sub"])
        .where(F.col("a") < F.col("b"))
        .withColumn("cosine", F.round(cos, 6))
        .where(F.col("cosine") >= threshold)
        .select("a", "b", "cosine")
    )
