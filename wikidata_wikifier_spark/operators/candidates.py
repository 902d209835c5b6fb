"""Candidate generation — the reference's four retrieval strategies as
inverted-index joins (SURVEY.md §2.3).

Reference (wikifier/wikifier.py:81-113) queries Elasticsearch per cell with
four strategies: get-exact-matches, get-ngram-matches, get-trigram-matches,
get-fuzzy-augmented-matches (each optionally restricted by `--isa {Qxxx}`,
wikifier.py:97-113), then concatenates and deduplicates per (cell, kg_id)
recording how many strategies retrieved each candidate (num_occurences ∈
1..4, deduplicate-candidates at wikifier.py:148).

Spark-first re-expression: the per-row HTTP retrieval becomes a set of
equi-joins against an exploded label/alias index — the inverted-index
structure ES builds (edge-ngram analyzer, trigram analyzer, keyword field)
is generated as native column expressions on the index side and joined on
the generated key. Index-side tables are broadcast only when known-small
(plans/skew.py::size_aware_broadcast): at the real target (~100M labels ×
~8 grams) they are tens of GB, so the join degrades to a shuffle join with
AQE skew-splitting + salting instead of OOMing the driver. Only the final
per-(mention, qnode) aggregation shuffles keyed by the mention — AQE-
coalesced and skew-immune because the key includes the row id, not the
label.

generate_candidates computes the two expensive shared intermediates — the
exploded alias index and the prefix-filtered string-pair scores — ONCE and
materializes them (plans/barrier.py), instead of letting the 4-strategy
union re-evaluate them 2-4×.

All scoring rules here are deterministic and mirrored in the DuckDB oracle
(oracles.py) for driver verification.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import char_ngrams, edge_ngrams
from ..functions.strings import clean_label, levenshtein_similarity
from ..plans.barrier import barrier
from ..plans.skew import size_aware_broadcast

EDGE_MIN, EDGE_MAX = 3, 10
TRIGRAM_JACCARD_MIN = 0.5
FUZZY_SIM_MIN = 0.7
# ES returns a bounded result page per query; we mirror that: each
# strategy keeps its top N candidates per mention (score desc, qnode asc).
# Without this cap a head label ("cold widget" shared by hundreds of
# entities at scale) drags its full entity list through every downstream
# feature stage.
TOP_N_PER_STRATEGY = 50


def _cap_per_mention(df: DataFrame) -> DataFrame:
    w = Window.partitionBy("row").orderBy(
        F.desc("retrieval_score"), F.asc("qnode")
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= TOP_N_PER_STRATEGY)
        .drop("_rn")
    )
# Candidate-pair generation uses PREFIX FILTERING (Chaudhuri et al. /
# ppjoin family): order each string's grams by global document frequency
# (rarest first) and join only on the first floor(n/2)+1 of them. For
# Jaccard ≥ 0.5 this is RECALL-EXACT (J ≥ 0.5 ⇒ overlap ≥ 0.5·n_a ⇒ the
# rarest-half prefixes must intersect) while head grams ("wid" in every
# "widget" alias, O(df²) join fan-out) almost never appear in a prefix.
# The fuzzy strategy reuses the same candidate pairs — heuristic recall
# there, like Elasticsearch's own fuzzy retrieval.


def _hint_smaller(
    left: DataFrame,
    left_rows: int | None,
    right: DataFrame,
    right_rows: int | None,
) -> tuple[DataFrame, DataFrame]:
    """Place the broadcast hint on the SMALLER known side of an equi-join
    (guide §3.1: broadcast the side that fits). The candidate-generation
    joins pair a vocabulary-scale label table against entity-scale index
    tables; hinting the index side unconditionally built 0.6-4.8M-row
    hash relations to probe with a few hundred label rows (measured 10s+
    of the replica-scale build). Either side may carry the hint — inner
    equi-joins commute, and every downstream aggregate here is
    value-unique per group (kg_label_src/pagerank are constant per
    qnode), so the build-side flip never changes results. Unknown sizes
    count as infinite; if the smaller side is still over the broadcast
    bound, size_aware_broadcast leaves both hintless (planner + AQE
    decide)."""
    lk = left_rows if left_rows is not None else float("inf")
    rk = right_rows if right_rows is not None else float("inf")
    if lk <= rk:
        return size_aware_broadcast(left, left_rows), right
    return left, size_aware_broadcast(right, right_rows)


def _apply_isa(index: DataFrame, isa: str | None) -> DataFrame:
    """`--isa {Qxxx}` class restriction (wikifier.py:97-113): the
    reference appends an instance-of filter to every ES query when the
    reconcile request carries a type. Filtering the index BEFORE the alias
    explode prunes the inverted index at the scan, so the restriction is
    free at 100 TB (predicate pushdown into the index source)."""
    if isa is None:
        return index
    return index.where(F.col("class") == isa)


def _alias_index(index: DataFrame) -> DataFrame:
    """Explode (qnode, aliases[]) → (qnode, alias_norm, pagerank, label)."""
    return (
        index.select(
            "qnode",
            F.col("label").alias("kg_label_src"),
            "pagerank",
            F.explode("aliases").alias("alias"),
        )
        .withColumn("alias_norm", clean_label(F.col("alias")))
        # distinct normalized terms per qnode: aliases that normalize to
        # the same string ("iron-ring" → "iron ring" = label) must index
        # once, or gram-overlap counts double (ES analyzers dedupe terms
        # per doc the same way)
        .dropDuplicates(["qnode", "alias_norm"])
    )


def exact_matches(
    mentions: DataFrame,
    index: DataFrame,
    isa: str | None = None,
    aidx: DataFrame | None = None,
    idx_rows: int | None = None,
) -> DataFrame:
    """get-exact-matches (wikifier.py:91-93): label_clean == normalized
    label/alias. Hash equi-join (broadcast when the index is small),
    score 1.0."""
    aidx = aidx if aidx is not None else _alias_index(_apply_isa(index, isa))
    idx = aidx.select("qnode", "kg_label_src", "pagerank", "alias_norm")
    joined = mentions.join(
        size_aware_broadcast(idx, idx_rows),
        mentions["label_clean"] == idx["alias_norm"],
        "inner",
    )
    return (
        joined.groupBy("row", "label_clean", "qnode")
        .agg(
            F.first("kg_label_src").alias("kg_label"),
            F.first("pagerank").alias("pagerank"),
        )
        .select(
            "row",
            "label_clean",
            "qnode",
            "kg_label",
            "pagerank",
            F.lit("exact").alias("method"),
            F.lit(1.0).alias("retrieval_score"),
        )
        .transform(_cap_per_mention)
    )


def ngram_matches(
    mentions: DataFrame,
    index: DataFrame,
    isa: str | None = None,
    aidx: DataFrame | None = None,
    idx_rows: int | None = None,
) -> DataFrame:
    """get-ngram-matches (wikifier.py:85-87): ES edge-ngram analyzer →
    index aliases exploded into prefixes (len 3..10); the mention matches
    on its leading min(10, len) characters. Score = matched-prefix length /
    alias length (longer aliases score lower, BM25-flavored), max over
    aliases."""
    aidx = aidx if aidx is not None else _alias_index(_apply_isa(index, isa))
    idx = aidx.select(
        "qnode",
        "kg_label_src",
        "pagerank",
        "alias_norm",
        F.explode(edge_ngrams(F.col("alias_norm"), EDGE_MIN, EDGE_MAX)).alias(
            "prefix"
        ),
    )
    key = F.substring(
        F.col("label_clean"), 1, F.least(F.length("label_clean"), F.lit(EDGE_MAX)).cast("int")
    )
    m = mentions.withColumn("mkey", key).where(F.length("mkey") >= EDGE_MIN)
    # the exploded prefix table is ~8x the alias index
    joined = m.join(
        size_aware_broadcast(idx, None if idx_rows is None else idx_rows * 8),
        m["mkey"] == idx["prefix"],
        "inner",
    )
    score = F.length("prefix") / F.length("alias_norm")
    return (
        joined.withColumn("score", score)
        .groupBy("row", "label_clean", "qnode")
        .agg(
            F.first("kg_label_src").alias("kg_label"),
            F.first("pagerank").alias("pagerank"),
            F.round(F.max("score"), 6).alias("retrieval_score"),
        )
        .select(
            "row",
            "label_clean",
            "qnode",
            "kg_label",
            "pagerank",
            F.lit("ngram").alias("method"),
            "retrieval_score",
        )
        .transform(_cap_per_mention)
    )


def _prefix(df: DataFrame, part_cols: list[str], n_col: str) -> DataFrame:
    """Keep each string's floor(n/2)+1 rarest grams (order: gdf, gram)."""
    w = Window.partitionBy(*part_cols).orderBy("gdf", "gram")
    limit = F.floor(F.col(n_col) / 2) + 1
    return (
        df.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= limit)
        .drop("rk", "gdf")
    )


def _scored_string_pairs(
    mentions: DataFrame,
    index: DataFrame,
    aidx: DataFrame | None = None,
    idx_rows: int | None = None,
    m_rows: int | None = None,
) -> DataFrame:
    """STRING-level candidate scoring: (label_clean, alias_norm, jaccard,
    lev_sim) over DISTINCT strings only.

    Key scale insight: trigram-Jaccard and levenshtein depend only on the
    string pair, and distinct strings grow with the vocabulary, not the
    corpus — at 100× rows the distinct-label set barely moves. Verifying
    per (mention, alias) row instead explodes with entity duplication
    (measured: 33.7M pairs at sf0.1 vs ~100k distinct string pairs).
    The per-qnode fan-out happens only AFTER the similarity threshold,
    and is immediately capped per mention."""
    aidx = aidx if aidx is not None else _alias_index(index)
    # a_str is referenced 3x (gram_df, prefix explode, verify join-back)
    # over a distinct exchange + interpreted char-ngram lambda per alias
    # (measured A/B: 1.7-1.8 -> 1.3-1.4s noop at the 10x replica)
    a_str = barrier(
        aidx.select("alias_norm")
        .distinct()
        .withColumn("ag", F.array_distinct(char_ngrams(F.col("alias_norm"), 3)))
        .withColumn("n_a", F.size("ag"))
        .where(F.col("n_a") > 0)
    )
    m_str = (
        mentions.select("label_clean")
        .distinct()
        .withColumn("mg", F.array_distinct(char_ngrams(F.col("label_clean"), 3)))
        .withColumn("n_m", F.size("mg"))
        .where(F.col("n_m") > 0)
    )
    gram_df = a_str.select(F.explode("ag").alias("gram")).groupBy("gram").agg(
        F.count("*").alias("gdf")
    )
    # gram_df has one row per distinct trigram — tiny relative to the
    # alias table (bounded by alphabet³ per language), safe to hint small
    a_grams = a_str.select("alias_norm", "n_a", F.explode("ag").alias("gram")).join(
        size_aware_broadcast(gram_df, idx_rows), "gram"
    )
    a_pre = _prefix(a_grams, ["alias_norm"], "n_a")
    m_grams = (
        m_str.select("label_clean", "n_m", F.explode("mg").alias("gram"))
        .join(size_aware_broadcast(gram_df, idx_rows), "gram", "left")
        .na.fill({"gdf": 0})
    )
    m_pre = _prefix(m_grams, ["label_clean"], "n_m")

    pairs = (
        m_pre.join(size_aware_broadcast(a_pre, idx_rows), "gram", "inner")
        .select("label_clean", "alias_norm")
        .distinct()
    )
    return (
        pairs.join(
            size_aware_broadcast(
                m_str.select("label_clean", "mg", "n_m"),
                m_rows if m_rows is not None else idx_rows,
            ),
            "label_clean",
        )
        .join(
            size_aware_broadcast(a_str.select("alias_norm", "ag", "n_a"), idx_rows),
            "alias_norm",
        )
        .withColumn("overlap", F.size(F.array_intersect("mg", "ag")))
        .withColumn(
            "jaccard",
            F.col("overlap") / (F.col("n_m") + F.col("n_a") - F.col("overlap")),
        )
        .withColumn("lev_sim", levenshtein_similarity(F.col("label_clean"), F.col("alias_norm")))
        .select("label_clean", "alias_norm", "jaccard", "lev_sim")
    )


def trigram_matches(
    mentions: DataFrame,
    index: DataFrame,
    isa: str | None = None,
    aidx: DataFrame | None = None,
    spairs: DataFrame | None = None,
    idx_rows: int | None = None,
) -> DataFrame:
    """get-trigram-matches (wikifier.py:88-90): char-3gram overlap with
    Jaccard ≥ 0.5 against any alias; score = best Jaccard.

    Plan: string-level prefix-filtered scoring, threshold, then fan out
    to (mention, qnode) and cap — see _scored_string_pairs."""
    aidx = aidx if aidx is not None else _alias_index(_apply_isa(index, isa))
    spairs = (
        spairs
        if spairs is not None
        else _scored_string_pairs(mentions, index, aidx=aidx, idx_rows=idx_rows)
    )
    return _expand_string_matches(
        mentions,
        aidx,
        spairs.where(F.col("jaccard") >= TRIGRAM_JACCARD_MIN).select(
            "label_clean", "alias_norm", F.col("jaccard").alias("score")
        ),
        "trigram",
        idx_rows=idx_rows,
    )


def _expand_string_matches(
    mentions: DataFrame,
    aidx: DataFrame,
    str_matches: DataFrame,
    method: str,
    idx_rows: int | None = None,
) -> DataFrame:
    """(label_clean, alias_norm, score) string matches → per-(mention,
    qnode) candidates with max-over-aliases score, capped per mention."""
    aliases = aidx.select("qnode", "kg_label_src", "pagerank", "alias_norm")
    n_parts = max(mentions.sparkSession.sparkContext.defaultParallelism * 2, 16)
    expanded = (
        mentions.select("row", "label_clean")
        .repartition(n_parts, F.col("row"))
        .join(size_aware_broadcast(str_matches, idx_rows), "label_clean")
        .join(size_aware_broadcast(aliases, idx_rows), "alias_norm")
    )
    return (
        expanded.groupBy("row", "label_clean", "qnode")
        .agg(
            F.first("kg_label_src").alias("kg_label"),
            F.first("pagerank").alias("pagerank"),
            F.round(F.max("score"), 6).alias("retrieval_score"),
        )
        .select(
            "row",
            "label_clean",
            "qnode",
            "kg_label",
            "pagerank",
            F.lit(method).alias("method"),
            "retrieval_score",
        )
        .transform(_cap_per_mention)
    )


def fuzzy_matches(
    mentions: DataFrame,
    index: DataFrame,
    isa: str | None = None,
    aidx: DataFrame | None = None,
    spairs: DataFrame | None = None,
    idx_rows: int | None = None,
) -> DataFrame:
    """get-fuzzy-augmented-matches (wikifier.py:82-84): edit-distance
    tolerant retrieval. Plan: string-level prefix-filtered candidate
    pairs, NATIVE levenshtein verification >= 0.7 (whole-stage codegen),
    then fan-out + per-mention cap — see _scored_string_pairs."""
    aidx = aidx if aidx is not None else _alias_index(_apply_isa(index, isa))
    spairs = (
        spairs
        if spairs is not None
        else _scored_string_pairs(mentions, index, aidx=aidx, idx_rows=idx_rows)
    )
    return _expand_string_matches(
        mentions,
        aidx,
        spairs.where(F.col("lev_sim") >= FUZZY_SIM_MIN).select(
            "label_clean", "alias_norm", F.col("lev_sim").alias("score")
        ),
        "fuzzy",
        idx_rows=idx_rows,
    )


def label_candidates(
    m_str: DataFrame, index: DataFrame, isa: str | None = None
) -> DataFrame:
    """Label-level candidate table: (label_clean, qnode, kg_label,
    pagerank, retrieval_score, num_occurences, methods) for a DISTINCT
    label set — the vocabulary-scale core of generate_candidates, exposed
    directly for pipelines that keep ALL downstream computation at label
    granularity (pipeline.wikify) and fan out to mentions only at the very
    end. Returns (lab_cands, idx_rows)."""
    idx = _apply_isa(index, isa)
    aidx = barrier(_alias_index(idx))
    idx_rows = aidx.count()  # exact size → size-aware broadcast decisions


    # EVERYTHING below the final fan-out runs at VOCABULARY scale: every
    # retrieval score, the per-strategy ES-style cap, and the
    # cross-strategy dedup depend only on label_clean — two mentions with
    # the same cleaned label get identical candidate lists and identical
    # rank orders. So the four strategies score DISTINCT labels only
    # (thousands of rows where the corpus has billions of mentions), and
    # the candidate table materializes in ONE label-keyed join at the very
    # end — zero corpus-scale shuffles in candidate generation.
    m_str = barrier(m_str.select("label_clean").distinct())
    # the label table is vocabulary-scale and just materialized — one
    # cheap count makes every strategy join broadcast the smaller side
    # (the exploded index tables are entity-scale: 600k aliases / 4.8M
    # prefixes at 10x bench scale vs a few hundred labels)
    m_rows = m_str.count()
    spairs = _scored_string_pairs(
        m_str, idx, aidx=aidx, idx_rows=idx_rows, m_rows=m_rows
    )
    aliases = aidx.select("qnode", "kg_label_src", "pagerank", "alias_norm")

    # exact: label_clean == alias_norm (≤1 row per (label, qnode): the
    # alias index is distinct on (qnode, alias_norm))
    lm, ra = _hint_smaller(m_str, m_rows, aliases, idx_rows)
    exact_s = lm.join(
        ra,
        F.col("label_clean") == F.col("alias_norm"),
        "inner",
    ).select(
        "label_clean", "qnode", "kg_label_src", "pagerank",
        F.lit("exact").alias("method"), F.lit(1.0).alias("retrieval_score"),
    )

    # ngram: leading min(10, len) chars vs exploded edge-ngram prefixes,
    # max score over an entity's aliases
    pidx = aliases.select(
        "qnode", "kg_label_src", "pagerank", "alias_norm",
        F.explode(edge_ngrams(F.col("alias_norm"), EDGE_MIN, EDGE_MAX)).alias("prefix"),
    )
    mkey = F.substring(
        F.col("label_clean"), 1,
        F.least(F.length("label_clean"), F.lit(EDGE_MAX)).cast("int"),
    )
    lmk, rp = _hint_smaller(
        m_str.withColumn("mkey", mkey).where(F.length("mkey") >= EDGE_MIN),
        m_rows,
        pidx,
        None if idx_rows is None else idx_rows * 8,
    )
    ngram_s = (
        lmk.join(
            rp,
            F.col("mkey") == F.col("prefix"),
            "inner",
        )
        .groupBy("label_clean", "qnode")
        .agg(
            F.first("kg_label_src").alias("kg_label_src"),
            F.first("pagerank").alias("pagerank"),
            F.round(
                F.max(F.length("prefix") / F.length("alias_norm")), 6
            ).alias("retrieval_score"),
        )
        .select(
            "label_clean", "qnode", "kg_label_src", "pagerank",
            F.lit("ngram").alias("method"), "retrieval_score",
        )
    )

    # trigram + fuzzy: both thresholds over the same scored string pairs,
    # expanded to qnodes through one alias join, max over aliases
    str_m = spairs.select(
        "label_clean", "alias_norm",
        F.when(F.col("jaccard") >= TRIGRAM_JACCARD_MIN, F.col("jaccard")).alias("tri"),
        F.when(F.col("lev_sim") >= FUZZY_SIM_MIN, F.col("lev_sim")).alias("fuz"),
    ).where(F.col("tri").isNotNull() | F.col("fuz").isNotNull())
    # the thresholded string matches are vocabulary-pair-scale — one
    # cheap materialization + count makes them the broadcast side instead
    # of building the entity-scale alias hash relation
    str_m = barrier(str_m)
    ls, ras = _hint_smaller(str_m, str_m.count(), aliases, idx_rows)
    tf_s = (
        ls.join(ras, "alias_norm")
        .select(
            "label_clean", "qnode", "kg_label_src", "pagerank",
            F.explode(
                F.filter(
                    F.array(
                        F.struct(F.lit("trigram").alias("method"), F.col("tri").alias("score")),
                        F.struct(F.lit("fuzzy").alias("method"), F.col("fuz").alias("score")),
                    ),
                    lambda s: s["score"].isNotNull(),
                )
            ).alias("ms"),
        )
        .groupBy("label_clean", "qnode", F.col("ms.method").alias("method"))
        .agg(
            F.first("kg_label_src").alias("kg_label_src"),
            F.first("pagerank").alias("pagerank"),
            F.round(F.max("ms.score"), 6).alias("retrieval_score"),
        )
        .select(
            "label_clean", "qnode", "kg_label_src", "pagerank",
            "method", "retrieval_score",
        )
    )

    all_s = exact_s.unionByName(ngram_s).unionByName(tf_s)
    # per-strategy ES result cap: per mention ≡ per label (same candidates,
    # same order for every mention sharing the label)
    w = Window.partitionBy("label_clean", "method").orderBy(
        F.desc("retrieval_score"), F.asc("qnode")
    )
    capped = (
        all_s.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= TOP_N_PER_STRATEGY)
        .drop("_rn")
    )
    lab_cands = capped.groupBy("label_clean", "qnode").agg(
        F.first("kg_label_src").alias("kg_label"),
        F.max("pagerank").alias("pagerank"),
        F.max("retrieval_score").alias("retrieval_score"),
        F.countDistinct("method").alias("num_occurences"),
        F.array_sort(F.collect_set("method")).alias("methods"),
    )
    return lab_cands, idx_rows


def generate_candidates(
    mentions: DataFrame, index: DataFrame, isa: str | None = None
) -> DataFrame:
    """Union of the four strategies + deduplicate-candidates
    (wikifier.py:148): per (row, qnode) keep max retrieval_score and count
    distinct retrieving strategies as num_occurences (1..4).

    Fused plan — semantically identical to running the four standalone
    strategy functions and unioning, but with a fraction of the stages:

    1. The exploded alias index (used by all strategies) and the
       prefix-filtered string-pair scores (used by trigram AND fuzzy) are
       computed ONCE and materialized by a barrier — Spark shares
       nothing between branches of a union, so without the barrier those
       jobs re-run per strategy.
    2. The trigram and fuzzy thresholds are applied to the SAME
       string-match table and expanded to (mention, qnode) through ONE
       mention⨝pairs⨝alias join instead of two.
    3. Per-strategy aggregation (max score over aliases), the per-strategy
       ES-style result cap, and final dedup run as one groupBy(+method) →
       one window(row, method) → one groupBy: 3 row-keyed shuffles total
       where the naive union needs ~9. Each standalone strategy function
       applies the identical groupBy/QUALIFY pipeline, so the DuckDB
       oracles for the per-strategy queries also pin this path's
       semantics."""
    lab_cands, idx_rows = label_candidates(mentions, index, isa)
    # the ONLY corpus-scale operation: mentions stream through one
    # label-keyed join against the (tiny) label-level candidate table
    return mentions.select("row", "label_clean").join(
        size_aware_broadcast(lab_cands, idx_rows), "label_clean", "inner"
    )
