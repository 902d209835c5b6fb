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
AQE skew-splitting + salting instead of OOMing the driver.

Every strategy runs at LABEL level: a retrieval score, the per-strategy
ES-style result cap and the cross-strategy dedup depend only on
label_clean, so two mentions with the same cleaned label get identical
candidate lists in identical order. Each strategy is one builder over the
materialized distinct-label set and alias index (`retrieval_inputs`):
`exact_label_matches`, `ngram_label_matches` and `string_label_matches`
(trigram and fuzzy, over one shared scored string-pair table, whose
pairs come from the set-similarity join in setsim.py).
`cap_per_label` applies the result cap. `label_candidates` composes all
four for the pipeline; the per-strategy board queries run one builder
each and fan its capped table out to mentions, so the per-strategy DuckDB
oracles check the code that ships.

All scoring rules here are deterministic and mirrored in the DuckDB oracle
(oracles.py) for driver verification.
"""

from __future__ import annotations

import operator
from functools import reduce
from typing import NamedTuple

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import char_ngrams, edge_ngrams
from ..functions.strings import clean_label, levenshtein_similarity
from ..plans.barrier import barrier
from ..plans.skew import size_aware_broadcast
from . import setsim

EDGE_MIN, EDGE_MAX = 3, 10
TRIGRAM_JACCARD_MIN = 0.5
FUZZY_SIM_MIN = 0.7
# string strategies: method → (string-pair score column, threshold)
STRING_STRATEGIES = {
    "trigram": ("jaccard", TRIGRAM_JACCARD_MIN),
    "fuzzy": ("lev_sim", FUZZY_SIM_MIN),
}
# ES returns a bounded result page per query; we mirror that: each
# strategy keeps its top N candidates per label (score desc, qnode asc).
# Without this cap a head label ("cold widget" shared by hundreds of
# entities at scale) drags its full entity list through every downstream
# feature stage.
TOP_N_PER_STRATEGY = 50


def _hint_smaller(
    left: DataFrame, left_rows: int, right: DataFrame, right_rows: int
) -> tuple[DataFrame, DataFrame]:
    """Place the broadcast hint on the SMALLER side of an equi-join
    (guide §3.1: broadcast the side that fits). The candidate-generation
    joins pair a vocabulary-scale label table against entity-scale index
    tables; hinting the index side unconditionally built 0.6-4.8M-row
    hash relations to probe with a few hundred label rows (measured 10s+
    of the replica-scale build). Either side may carry the hint — inner
    equi-joins commute, and every downstream aggregate here is
    value-unique per group (kg_label/pagerank are constant per qnode), so
    the build-side flip never changes results. If the smaller side is
    still over the broadcast bound, size_aware_broadcast leaves both
    hintless (planner + AQE decide)."""
    if left_rows <= right_rows:
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
    """Explode (qnode, aliases[]) → (qnode, kg_label, pagerank, alias_norm)."""
    return (
        index.select(
            "qnode",
            F.col("label").alias("kg_label"),
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


class RetrievalInputs(NamedTuple):
    """What every strategy builder joins: the distinct cleaned labels and
    the alias index, both materialized, with their exact row counts (the
    size hints of every broadcast decision)."""

    labels: DataFrame  # (label_clean)
    label_rows: int
    aliases: DataFrame  # (qnode, kg_label, pagerank, alias_norm)
    alias_rows: int


def retrieval_inputs(
    mentions: DataFrame, index: DataFrame, isa: str | None
) -> RetrievalInputs:
    """Materialize the alias index (class-restricted by `isa`) and the
    distinct label set of `mentions`. Both are vocabulary- or entity-scale
    and read by every strategy, so each is computed once."""
    aidx = barrier(_alias_index(_apply_isa(index, isa)))
    alias_rows = aidx.count()
    # the label table is vocabulary-scale and just materialized — one
    # cheap count makes every strategy join broadcast the smaller side
    # (the exploded index tables are entity-scale: 600k aliases / 4.8M
    # prefixes at 10x bench scale vs a few hundred labels)
    labels = barrier(mentions.select("label_clean").distinct())
    return RetrievalInputs(
        labels,
        labels.count(),
        aidx.select("qnode", "kg_label", "pagerank", "alias_norm"),
        alias_rows,
    )


def exact_label_matches(r: RetrievalInputs) -> DataFrame:
    """get-exact-matches (wikifier.py:91-93): label_clean == normalized
    label/alias, score 1.0. ≤1 row per (label, qnode): the alias index is
    distinct on (qnode, alias_norm)."""
    lm, ra = _hint_smaller(r.labels, r.label_rows, r.aliases, r.alias_rows)
    return lm.join(ra, F.col("label_clean") == F.col("alias_norm"), "inner").select(
        "label_clean", "qnode", "kg_label", "pagerank",
        F.lit("exact").alias("method"), F.lit(1.0).alias("retrieval_score"),
    )


def ngram_label_matches(r: RetrievalInputs) -> DataFrame:
    """get-ngram-matches (wikifier.py:85-87): ES edge-ngram analyzer →
    index aliases exploded into prefixes (len 3..10); the label matches
    on its leading min(10, len) characters. Score = matched-prefix length /
    alias length (longer aliases score lower, BM25-flavored), max over an
    entity's aliases."""
    pidx = r.aliases.select(
        "qnode", "kg_label", "pagerank", "alias_norm",
        F.explode(edge_ngrams(F.col("alias_norm"), EDGE_MIN, EDGE_MAX)).alias("prefix"),
    )
    mkey = F.substring(
        F.col("label_clean"), 1,
        F.least(F.length("label_clean"), F.lit(EDGE_MAX)).cast("int"),
    )
    # the exploded prefix table is ~8x the alias index
    lmk, rp = _hint_smaller(
        r.labels.withColumn("mkey", mkey).where(F.length("mkey") >= EDGE_MIN),
        r.label_rows,
        pidx,
        r.alias_rows * 8,
    )
    return (
        lmk.join(rp, F.col("mkey") == F.col("prefix"), "inner")
        .groupBy("label_clean", "qnode")
        .agg(
            F.first("kg_label").alias("kg_label"),
            F.first("pagerank").alias("pagerank"),
            F.round(
                F.max(F.length("prefix") / F.length("alias_norm")), 6
            ).alias("retrieval_score"),
        )
        .select(
            "label_clean", "qnode", "kg_label", "pagerank",
            F.lit("ngram").alias("method"), "retrieval_score",
        )
    )


def _trigram_sets(strings: DataFrame) -> DataFrame:
    """(id, g, n) set table of char-3-gram sets, one per row of the
    distinct `strings`."""
    return (
        strings.withColumn("g", F.array_distinct(char_ngrams(F.col("id"), 3)))
        .withColumn("n", F.size("g"))
        .where(F.col("n") > 0)
    )


def _scored_string_pairs(r: RetrievalInputs) -> DataFrame:
    """STRING-level candidate scoring: (label_clean, alias_norm, jaccard,
    lev_sim) over DISTINCT strings only.

    Key scale insight: trigram-Jaccard and levenshtein depend only on the
    string pair, and distinct strings grow with the vocabulary, not the
    corpus — at 100× rows the distinct-label set barely moves. Verifying
    per (mention, alias) row instead explodes with entity duplication
    (measured: 33.7M pairs at sf0.1 vs ~100k distinct string pairs).
    The per-qnode fan-out happens only AFTER the similarity threshold.

    Pairs are setsim.py's trigram prefix collisions, with no positional
    filter: fuzzy scores the same pairs (heuristic recall, like ES fuzzy)."""
    # a_sets is referenced 3x (gram df, prefix explode, verify join-back)
    # over a distinct exchange + interpreted char-ngram lambda per alias
    # (measured A/B: 1.7-1.8 -> 1.3-1.4s noop at the 10x replica)
    # aliases repeat across qnodes; the labels are distinct already
    a_sets = barrier(
        _trigram_sets(r.aliases.select(F.col("alias_norm").alias("id")).distinct())
    )
    m_sets = _trigram_sets(r.labels.select(F.col("label_clean").alias("id")))
    # gram df (≤ alphabet³ rows) and alias prefixes: hinted by the alias count
    pairs = (
        setsim.prefix_pairs(m_sets, a_sets, TRIGRAM_JACCARD_MIN, rows=r.alias_rows)
        .select("a", "b")
        .distinct()
    )
    return (
        setsim.with_jaccard(
            pairs,
            size_aware_broadcast(m_sets, r.label_rows),
            size_aware_broadcast(a_sets, r.alias_rows),
        )
        .select(
            F.col("a").alias("label_clean"), F.col("b").alias("alias_norm"), "jaccard",
            levenshtein_similarity(F.col("a"), F.col("b")).alias("lev_sim"),
        )
    )


def string_label_matches(r: RetrievalInputs, methods: tuple[str, ...]) -> DataFrame:
    """get-trigram-matches (wikifier.py:88-90: char-3gram Jaccard ≥ 0.5
    against any alias) and get-fuzzy-augmented-matches (wikifier.py:82-84:
    NATIVE levenshtein similarity ≥ 0.7), for the `methods` named in
    STRING_STRATEGIES. Both threshold the same prefix-filtered scored
    string pairs (_scored_string_pairs) and expand to qnodes through ONE
    alias join; score = max over an entity's aliases."""
    scores = []
    for m in methods:
        col, t = STRING_STRATEGIES[m]
        scores.append(F.when(F.col(col) >= t, F.col(col)).alias(m))
    kept = reduce(operator.or_, [F.col(m).isNotNull() for m in methods])
    # the thresholded string matches are vocabulary-pair-scale — one
    # cheap materialization + count makes them the broadcast side instead
    # of building the entity-scale alias hash relation
    str_m = barrier(
        _scored_string_pairs(r).select("label_clean", "alias_norm", *scores).where(kept)
    )
    ls, ras = _hint_smaller(str_m, str_m.count(), r.aliases, r.alias_rows)
    return (
        ls.join(ras, "alias_norm")
        .select(
            "label_clean", "qnode", "kg_label", "pagerank",
            F.explode(
                F.filter(
                    F.array(*[
                        F.struct(F.lit(m).alias("method"), F.col(m).alias("score"))
                        for m in methods
                    ]),
                    lambda s: s["score"].isNotNull(),
                )
            ).alias("ms"),
        )
        .groupBy("label_clean", "qnode", F.col("ms.method").alias("method"))
        .agg(
            F.first("kg_label").alias("kg_label"),
            F.first("pagerank").alias("pagerank"),
            F.round(F.max("ms.score"), 6).alias("retrieval_score"),
        )
        .select(
            "label_clean", "qnode", "kg_label", "pagerank",
            "method", "retrieval_score",
        )
    )


def cap_per_label(matches: DataFrame) -> DataFrame:
    """Per-strategy ES result cap: the top TOP_N_PER_STRATEGY candidates
    per (label_clean, method). Per label ≡ per mention: every mention
    sharing a label has the same candidates in the same order."""
    w = Window.partitionBy("label_clean", "method").orderBy(
        F.desc("retrieval_score"), F.asc("qnode")
    )
    return (
        matches.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= TOP_N_PER_STRATEGY)
        .drop("_rn")
    )


def label_candidates(
    m_str: DataFrame, index: DataFrame, isa: str | None = None
) -> tuple[DataFrame, int]:
    """Label-level candidate table: (label_clean, qnode, kg_label,
    pagerank, retrieval_score, num_occurences, methods) for a DISTINCT
    label set — the vocabulary-scale core of generate_candidates, exposed
    directly for pipelines that keep ALL downstream computation at label
    granularity (pipeline.wikify) and fan out to mentions only at the very
    end. Returns (lab_cands, idx_rows), idx_rows being the alias-index
    row count.

    The four strategies, their cap and the dedup run as one union →
    one window(label, method) → one groupBy, over distinct labels only
    (thousands of rows where the corpus has billions of mentions): zero
    corpus-scale shuffles in candidate generation."""
    r = retrieval_inputs(m_str, index, isa)
    capped = cap_per_label(
        exact_label_matches(r)
        .unionByName(ngram_label_matches(r))
        .unionByName(string_label_matches(r, ("trigram", "fuzzy")))
    )
    lab_cands = capped.groupBy("label_clean", "qnode").agg(
        F.first("kg_label").alias("kg_label"),
        F.max("pagerank").alias("pagerank"),
        F.max("retrieval_score").alias("retrieval_score"),
        F.countDistinct("method").alias("num_occurences"),
        F.array_sort(F.collect_set("method")).alias("methods"),
    )
    return lab_cands, r.alias_rows


def generate_candidates(
    mentions: DataFrame, index: DataFrame, isa: str | None = None
) -> DataFrame:
    """Union of the four strategies + deduplicate-candidates
    (wikifier.py:148): per (row, qnode) keep max retrieval_score and count
    distinct retrieving strategies as num_occurences (1..4).

    This is label_candidates fanned out to mentions. The strategy
    builders it composes are the ones the per-strategy board queries run
    alone, so their DuckDB oracles and the `candidates_dedup` oracle pin
    one implementation."""
    lab_cands, idx_rows = label_candidates(mentions, index, isa)
    # the ONLY corpus-scale operation: mentions stream through one
    # label-keyed join against the (tiny) label-level candidate table
    return mentions.select("row", "label_clean").join(
        size_aware_broadcast(lab_cands, idx_rows), "label_clean", "inner"
    )
