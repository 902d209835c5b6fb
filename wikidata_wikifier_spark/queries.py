"""Driver-checked query registry: name → (spark, sf_dir) → DataFrame.

Each entry is one operator from SURVEY.md §2 (or a training-data op from
the build brief) exercised over the driver's testdata tables, with a
matching ANSI-SQL oracle in oracles.py. Column names and rounding are kept
in lock-step with the oracle so the driver's order-insensitive value hash
matches exactly.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators import analytics, candidates, features, ranker, topk
from .operators.canonicalize import canonicalize, clean
from .operators.linking_fixture import class_key_dim, cleaned_mentions, entity_index
from .pipeline import feature_chain
from .plans.barrier import barrier
from .plans.skew import spread
from .sources.tpch import load_table, table_rows

QueryFn = Callable[[SparkSession, str], DataFrame]


# ------------------------------------------------------------ reshaping

def q_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    return canonicalize(
        cust,
        target_columns=["c_name", "c_mktsegment"],
        row_key="c_custkey",
        context_columns=["c_nationkey", "c_acctbal"],
    )


def q_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    labels = part.select(
        F.col("p_partkey").alias("row"),
        F.concat_ws(" ", F.col("p_brand"), F.col("p_name"), F.col("p_type")).alias(
            "label"
        ),
    )
    return clean(labels, "label", "label_clean")


# ---------------------------------------------------- candidate retrieval

# size_aware_broadcast requires an EXPLICIT row hint to force a broadcast
# (hintless = shuffle join + AQE promotion — the 100-TB-safe default).
# The fixture index is one row per part; count it once per session so
# every dimension join here rides an honest known-small hint.
_IDX_ROWS_CACHE: dict[tuple[str, str], int] = {}


def index_rows(spark: SparkSession, sf_dir: str) -> int:
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _IDX_ROWS_CACHE:
        _IDX_ROWS_CACHE[key] = entity_index(spark, sf_dir).count()
    return _IDX_ROWS_CACHE[key]


def _retrieval(
    spark: SparkSession, sf_dir: str, isa: str | None, *builders
) -> DataFrame:
    """Run the label-level strategy builders, cap per (label, method) and
    fan the result out to the mentions by label_clean."""
    from .plans.skew import size_aware_broadcast

    m = cleaned_mentions(spark, sf_dir)
    r = candidates.retrieval_inputs(m, entity_index(spark, sf_dir), isa)
    capped = candidates.cap_per_label(
        reduce(DataFrame.unionByName, [build(r) for build in builders])
    )
    return m.select("row", "label_clean").join(
        size_aware_broadcast(capped, r.alias_rows), "label_clean"
    ).select(
        "row", "label_clean", "qnode", "kg_label", "pagerank", "method",
        "retrieval_score",
    )


def _trigram(r: candidates.RetrievalInputs) -> DataFrame:
    return candidates.string_label_matches(r, ("trigram",))


def _fuzzy(r: candidates.RetrievalInputs) -> DataFrame:
    return candidates.string_label_matches(r, ("fuzzy",))


def q_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _retrieval(spark, sf_dir, None, candidates.exact_label_matches)


def q_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _retrieval(spark, sf_dir, None, candidates.ngram_label_matches)


def q_trigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _retrieval(spark, sf_dir, None, _trigram)


def q_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _retrieval(spark, sf_dir, None, _fuzzy)


# --isa class restriction (wikifier.py:97-113): every OpenRefine reconcile
# request with a `type` passes --isa to all four strategies. 'standard' is
# one of the six pinned p_type classes in the fixture.
ISA_CLASS = "standard"


def q_retrieval_isa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """--isa restriction across strategies in ONE board entry: exact +
    fuzzy over the class-filtered index, distinguished by `method`."""
    return _retrieval(
        spark, sf_dir, ISA_CLASS, candidates.exact_label_matches, _fuzzy
    )


# The 4-strategy candidate table is one SHARED STAGE consumed by both the
# candidates_dedup query and the whole feature chain — materialize it once
# per (session, sf_dir) like a real engine reuses a materialized stage,
# instead of re-running retrieval per query. Keyed by applicationId (a
# dead session's id() can be reused by CPython).
_CANDIDATES_CACHE: dict[tuple[str, str], DataFrame] = {}


def raw_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _CANDIDATES_CACHE:
        _CANDIDATES_CACHE[key] = barrier(
            candidates.generate_candidates(
                cleaned_mentions(spark, sf_dir), entity_index(spark, sf_dir)
            )
        )
    return _CANDIDATES_CACHE[key]


def q_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = raw_candidates(spark, sf_dir)
    return df.select(
        "row",
        "label_clean",
        "qnode",
        "kg_label",
        F.round("pagerank", 6).alias("pagerank"),
        F.round("retrieval_score", 6).alias("retrieval_score"),
        "num_occurences",
        F.array_join("methods", ",").alias("methods"),
    )


# ------------------------------------------------------- feature chain

# Candidate tables cached per (application, sf_dir): the driver runs many
# feature queries against the same base — persist the expensive 4-strategy
# retrieval union once per session instead of recomputing it per query.
# Keyed by applicationId, not id(spark): CPython can reuse a dead session's
# id() and hand back checkpointed DataFrames bound to a stopped context.
_FEATURED_CACHE: dict[tuple[str, str], DataFrame] = {}


def featured_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate table + pipeline.feature_chain run row-level (cell =
    mention row), shared by the feature queries below; every step is
    mirrored in oracles.FEATURE_CTES."""
    key = (spark.sparkContext.applicationId, sf_dir)
    if key in _FEATURED_CACHE:
        return _FEATURED_CACHE[key]
    c = raw_candidates(spark, sf_dir).select(
        "row",
        "label_clean",
        "qnode",
        "kg_label",
        F.round("pagerank", 6).alias("pagerank"),
        F.round("retrieval_score", 6).alias("retrieval_score"),
        "num_occurences",
    ).join(cleaned_mentions(spark, sf_dir).select("row", "context"), "row")
    # spread before the feature stages: upstream AQE coalesces the capped
    # candidate table to 1-2 partitions, which would serialize them
    f = feature_chain(
        spread(c, "row"),
        entity_index(spark, sf_dir),
        index_rows(spark, sf_dir),
        cell_col="row",
    )
    _FEATURED_CACHE[key] = barrier(f)
    return _FEATURED_CACHE[key]


def _feature_query(*cols: str) -> QueryFn:
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        return featured_candidates(spark, sf_dir).select("row", "qnode", *cols)

    return fn


def q_context_match_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generic property-array context match incl. DATE parsing
    (wikifier.py:159-162; the cricketers.csv dob case): string + quantity +
    date properties declared as a spec, context synthesized from part with
    planted mismatches."""
    part = load_table(spark, sf_dir, "part")
    base_date = F.to_date(F.lit("1992-01-01"))
    cand_date = F.date_add(base_date, (F.col("p_partkey") % 1000).cast("int"))
    ctx_date = F.date_add(
        cand_date, F.when(F.col("p_partkey") % 7 == 0, 0).otherwise(1)
    )
    ctx_brand = F.when(F.col("p_partkey") % 4 == 0, F.col("p_brand")).otherwise(
        F.lit("Brand#99")
    )
    ctx_size = (
        F.col("p_size") + F.when(F.col("p_partkey") % 5 == 0, 0).otherwise(3)
    )
    cands = part.select(
        F.col("p_partkey").alias("row"),
        F.concat_ws(
            "|", ctx_brand, ctx_size.cast("string"), ctx_date.cast("string")
        ).alias("context"),
        F.col("p_brand").alias("brand"),
        F.col("p_size").alias("size_q"),
        cand_date.cast("string").alias("dob"),
    )
    out = features.context_match_typed(
        cands, [("brand", "string"), ("size_q", "quantity"), ("dob", "date")]
    )
    return out.select(
        "row", "brand_match", "size_q_match", "dob_match",
        "brand_score", "size_q_score", "context_score_typed",
    )


def q_kgtk_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline index build (Call-Wikifier-Service.ipynb cells 7-8): a
    KGTK-style (node1, label, node2) edge list — synthesized from part —
    aggregated per qnode into the entity-index table, including the
    class_count / property_count COUNT MAPS (multi-valued P31 + repeated
    property edges) and the typed context harvest. Maps/arrays are
    rendered as sorted canonical strings for the hash compare."""
    from .sources.kgtk import build_entity_index

    part = load_table(spark, sf_dir, "part")
    pk = F.col("p_partkey")
    q = F.concat(F.lit("Q"), pk.cast("string"))
    name = F.lower("p_name")
    dob = F.date_add(F.to_date(F.lit("1992-01-01")), (pk % 1000).cast("int"))
    edges = part.select(
        F.explode(
            F.filter(
                F.array(
                    F.struct(q.alias("node1"), F.lit("label").alias("label"), name.alias("node2")),
                    F.struct(q.alias("node1"), F.lit("alias").alias("label"),
                             F.concat_ws(" ", F.lower("p_brand"), name).alias("node2")),
                    F.struct(q.alias("node1"), F.lit("alias").alias("label"),
                             F.concat_ws(" ", name, F.lower("p_type")).alias("node2")),
                    F.struct(q.alias("node1"), F.lit("P31").alias("label"),
                             F.lower("p_type").alias("node2")),
                    # multi-valued instance-of: secondary class for even keys
                    F.struct(q.alias("node1"), F.lit("P31").alias("label"),
                             F.when(pk % 2 == 0,
                                    F.concat(F.lit("grp"), (pk % 3).cast("string"))).alias("node2")),
                    # repeated P31 edge → count 2 in class_count
                    F.struct(q.alias("node1"), F.lit("P31").alias("label"),
                             F.when(pk % 5 == 0, F.lower("p_type")).alias("node2")),
                    # typed property edges (string / quantity / date)
                    F.struct(q.alias("node1"), F.lit("P_brand").alias("label"),
                             F.col("p_brand").alias("node2")),
                    F.struct(q.alias("node1"), F.lit("P_brand").alias("label"),
                             F.when(pk % 3 == 0, F.col("p_brand")).alias("node2")),
                    F.struct(q.alias("node1"), F.lit("P_size").alias("label"),
                             F.col("p_size").cast("string").alias("node2")),
                    F.struct(q.alias("node1"), F.lit("P_dob").alias("label"),
                             dob.cast("string").alias("node2")),
                    F.struct(q.alias("node1"), F.lit("description").alias("label"),
                             F.concat(F.lit("a "), F.lower("p_type"), F.lit(" of brand "),
                                      F.col("p_brand")).alias("node2")),
                    F.struct(q.alias("node1"), F.lit("pagerank").alias("label"),
                             (F.col("p_retailprice") / 1000.0).cast("string").alias("node2")),
                ),
                lambda s: s["node2"].isNotNull(),
            )
        ).alias("e")
    ).select("e.node1", "e.label", "e.node2")
    idx = build_entity_index(edges)

    def map_str(col: str):
        return F.array_join(
            F.array_sort(
                F.transform(
                    F.map_entries(col),
                    lambda e: F.concat_ws(":", e["key"], e["value"].cast("string")),
                )
            ),
            "|",
        )

    ctx_str = F.array_join(
        F.array_sort(
            F.transform(
                "context_arr",
                lambda e: F.concat_ws(":", e["property"], e["value"], e["vtype"]),
            )
        ),
        "|",
    )
    return idx.select(
        "qnode", "label",
        F.array_join("aliases", "|").alias("aliases"),
        "class", "description", "pagerank",
        map_str("class_count").alias("class_count_str"),
        map_str("property_count").alias("property_count_str"),
        ctx_str.alias("context_str"),
    )


def q_reconcile_json_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3C reconcile JSON body → tabular input (wikifier_service.py:73-98):
    build the JSON payloads deterministically from the mention fixture,
    then from_json → explode → pivot-per-pid back out."""
    from .operators.reconcile import parse_reconcile_requests

    part = load_table(spark, sf_dir, "part").where(F.col("p_partkey") % 5 == 0)
    requests = part.select(
        F.col("p_partkey").alias("request_id"),
        F.concat(
            F.lit('{"query": "'), F.lower("p_name"),
            F.lit('", "type": "'), F.lower("p_type"),
            F.lit('", "properties": [{"pid": "P_brand", "v": "'), F.col("p_brand"),
            F.lit('"}, {"pid": "P_size", "v": "'), F.col("p_size").cast("string"),
            F.lit('"}]}'),
        ).alias("payload"),
    )
    return parse_reconcile_requests(requests, ["P_brand", "P_size"])


# --- per-column threshold semantics (wikifier.py:163-164, 184-186) ------
# The main linking fixture is single-column, so the reference's per-column
# kth-percentile (--minimum-cells 10) and per-column pseudo-GT mean
# thresholds are exercised on a dedicated multi-column table: orders
# priorities as columns plus one synthetic '0-TINY' column with 5 cells
# (below --minimum-cells, so it must produce no anchors).

def _per_column_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        F.col("o_orderpriority").alias("column"),
        F.col("o_orderkey").alias("row"),
        F.floor("o_totalprice").cast("long").alias("score"),
        (F.col("o_orderkey") % 7 == 0).cast("int").alias("ignore_candidate"),
    )
    tiny = spark.range(5).select(
        F.lit("0-TINY").alias("column"),
        (F.col("id") + 900000001).alias("row"),
        (F.col("id") * 1000 + 1).cast("long").alias("score"),
        F.lit(0).alias("ignore_candidate"),
    )
    return base.unionByName(tiny)


def q_per_column_thresholds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-target-column kth-percentile (--minimum-cells 10) AND per-column
    pseudo-GT mean threshold on the same multi-column table — one board
    entry for both column-grouped threshold semantics (the planted 5-cell
    '0-TINY' column must yield zero kth anchors)."""
    df = _per_column_scored(spark, sf_dir)
    out = features.kth_percentile(
        df, score_col="score", column_col="column", minimum_cells=10
    )
    out = features.create_pseudo_gt(
        out, "score", filter_col="score", column_col="column"
    )
    return out.select("column", "row", "kth_percenter", "pseudo_gt")


def q_centroid_lof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """centroid-of-lof variant (wikifier.py:191-195): LOF outlier drop on
    the anchor set before the centroid. ORACLE-CHECKED since r05 via the
    survivor-set parquet handoff: the LOF inlier qnodes — the only
    non-SQL step — are materialized, BOTH engines read the same file, and
    DuckDB recomputes the centroid + cosine tail exactly. LOF's own
    numerics stay pinned by tests/test_lof.py."""
    f = featured_candidates(spark, sf_dir)
    idx = entity_index(spark, sf_dir)
    n = index_rows(spark, sf_dir)
    emb_dim = idx.select("qnode", "embedding")
    surv = features.lof_surviving_anchors(f, emb_dim=emb_dim, dim_rows=n)
    path, fp_cols = _handoff(spark, sf_dir, "lof_survivors")
    surv.select("qnode", *fp_cols).write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path).select("qnode", F.lit(1).alias("w"))
    out = features.centroid_cosine_scores(
        f, back, emb_dim, out="pgt_centroid_lof_score", dim_rows=n
    )
    return out.select("row", "qnode", "pgt_centroid_lof_score")


def q_context_match_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed property-ARRAY context match (context.jl analogue): the
    candidate's context rides the index row as
    array<struct<property,value,type>> — no pre-pivoted property columns
    needed (features.context_match_array, the chain's pass-1 context)."""
    return featured_candidates(spark, sf_dir).select(
        "row", "qnode", "n_ctx_props", "n_ctx_matched",
        F.col("context_score").alias("context_score_array"),
    )


def q_reconcile_response(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reconcile response payload with TYPE labeling
    (wikifier_service.py:116-142): top-5 links + match rule + the
    candidate's top class (by class_count) resolved to a type label
    through the class-label DIMENSION (the ES ids-lookup analogue,
    wikifier_service.py:18-39 — not a call-site capitalization).
    Scored by retrieval_score so the full payload stays ANSI-oracle-
    checkable (the reference scores with siamese_prediction — same shape,
    MLP not SQL-expressible; the MLP scoring itself is pinned by
    ranker_siamese_mlp + pytest)."""
    from .operators.linking_fixture import class_label_dim
    from .operators.reconcile import reconcile_response

    f = featured_candidates(spark, sf_dir)
    links = topk.get_kg_links(f, k=5, score_col="retrieval_score")
    links = topk.apply_match_rule(links, "retrieval_score")
    return reconcile_response(
        links,
        class_key_dim(spark, sf_dir),
        score_col="retrieval_score",
        label_dim=class_label_dim(spark, sf_dir),
        dim_rows=index_rows(spark, sf_dir),
    )


# Parquet handoff dir for oracle-checking stages whose INPUT is a
# non-SQL-expressible computation (the LOF survivor set) or ends a long
# score chain (the final-MLP scores of wikify_end_to_end): the
# Spark query materializes the stage output here and BOTH engines read the
# same file, so the downstream logic is hash-checked exactly. Keyed by a
# TWO-table fingerprint (part + lineitem row counts) — the oracle SQL is
# static and can only filter on quantities derivable from its registered
# views, and two scale factors with identical part AND lineitem counts are
# the same dataset (a part-count-only key let equal-part-count dirs
# silently overwrite each other, ADVICE r04).
ORACLE_CACHE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".oracle_cache"
)


def _handoff(spark: SparkSession, sf_dir: str, stage: str) -> tuple[str, list]:
    """(path, fingerprint literal columns) for an oracle handoff write."""
    n_part = table_rows(spark, sf_dir, "part")
    n_li = table_rows(spark, sf_dir, "lineitem")
    path = os.path.join(ORACLE_CACHE, stage, f"n{n_part}_l{n_li}")
    cols = [F.lit(n_part).alias("n_part"), F.lit(n_li).alias("n_li")]
    return path, cols


def q_pseudo_gt_mlp_anchor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """create-pseudo-gt anchored on the MLP PREDICTION exactly as the
    reference does (wikifier.py:184-186): the chain's pseudo_gt. The
    oracle recomputes the calibrated MLP in SQL and checks the per-mean
    boolean (exact integer-micros comparison) hash-exact."""
    return featured_candidates(spark, sf_dir).select(
        "row", "qnode", F.col("pseudo_gt").alias("pseudo_gt_mlp")
    )


def q_ranker_siamese(spark: SparkSession, sf_dir: str) -> DataFrame:
    f = featured_candidates(spark, sf_dir)
    scored = ranker.predict_using_model(
        f,
        ranker.FINAL_FEATURES,
        ranker.final_ranker_weights(),
        ranker.FINAL_DATA_MIN,
        ranker.FINAL_DATA_MAX,
        "siamese_prediction",
    )
    return scored.select("row", "qnode", "siamese_prediction")


def q_kg_links_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    f = featured_candidates(spark, sf_dir)
    links = topk.get_kg_links(f, k=3, score_col="retrieval_score")
    return links.select("row", "qnode", "retrieval_score", "pagerank", "rank")


def q_join_back_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    f = featured_candidates(spark, sf_dir)
    links = topk.get_kg_links(f, k=1, score_col="retrieval_score").select(
        "row", "qnode", "retrieval_score", "rank"
    )
    m = cleaned_mentions(spark, sf_dir).select("row", "label", "context")
    extra = entity_index(spark, sf_dir).select("qnode", "aliases", "description")
    return topk.join_back(
        links, m, extra_info=extra, dim_rows=index_rows(spark, sf_dir)
    )


def q_add_color(spark: SparkSession, sf_dir: str) -> DataFrame:
    """add-color colorization assignment (wikifier.py:216-220) over the
    top-3 links: per-cell green-gradient rank colors for three scored
    columns (the reference colors its feature columns + siamese score;
    here the SQL-expressible scores so the assignment is oracle-checked)."""
    f = featured_candidates(spark, sf_dir)
    links = topk.get_kg_links(f, k=3, score_col="retrieval_score")
    colored = topk.add_color(
        links, ["retrieval_score", "pagerank", "smc_class_score"]
    )
    return colored.select(
        "row", "qnode", "rank",
        "retrieval_score_color", "pagerank_color", "smc_class_score_color",
    )


def q_match_rule(spark: SparkSession, sf_dir: str) -> DataFrame:
    f = featured_candidates(spark, sf_dir)
    links = topk.get_kg_links(f, k=3, score_col="retrieval_score")
    return topk.apply_match_rule(links, "retrieval_score").select(
        "row", "qnode", "rank", "retrieval_score", "match"
    )


def q_wikify_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full reference pipeline: candidates → feature chain (pseudo-GT
    anchored on its MLP, wikifier.py:184-186) → final 10-feature MLP →
    top-1 links + match rule.

    ORACLE-CHECKED end-to-end via the parquet score handoff: the final MLP
    scores are materialized to the shared handoff file, BOTH engines read
    it, and the whole output tail (top-1 window, deterministic tie-break,
    >0.95 ∧ rank-1 match rule) is hash-verified exactly. The MLP numerics
    themselves are oracle-checked by ranker_siamese_mlp."""
    g = ranker.predict_using_model(
        featured_candidates(spark, sf_dir),
        ranker.FINAL_FEATURES,
        ranker.final_ranker_weights(),
        ranker.FINAL_DATA_MIN,
        ranker.FINAL_DATA_MAX,
        "siamese_prediction",
    )
    # score handoff: downstream top-k + match rule run off the SAME file in
    # both engines. retrieval_score rides along as get_kg_links' tie-break.
    path, fp_cols = _handoff(spark, sf_dir, "siamese_pred")
    g.select(
        "row", "label_clean", "qnode", "kg_label", "retrieval_score",
        "siamese_prediction", *fp_cols,
    ).write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path).drop("n_part", "n_li")
    links = topk.get_kg_links(back, k=1, score_col="siamese_prediction")
    links = topk.apply_match_rule(links)
    return links.select(
        "row", "label_clean", "qnode", "kg_label", "siamese_prediction", "rank", "match"
    )


# -------------------------------------------- canonicalization / triples

def q_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CC over the supplier→nation→region hierarchy (each region becomes
    one component; oracle = DuckDB recursive CTE min-reachable)."""
    from .operators.connected_components import connected_components

    supp = load_table(spark, sf_dir, "supplier").select(
        F.concat(F.lit("S"), F.col("s_suppkey").cast("string")).alias("src"),
        F.concat(F.lit("N"), F.col("s_nationkey").cast("string")).alias("dst"),
    )
    nat = load_table(spark, sf_dir, "nation").select(
        F.concat(F.lit("N"), F.col("n_nationkey").cast("string")).alias("src"),
        F.concat(F.lit("R"), F.col("n_regionkey").cast("string")).alias("dst"),
    )
    return connected_components(supp.unionByName(nat))


def q_triples_emit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Links → (subj,pred,obj,part) triples through the emitter the graph
    build ships (triples.links_to_triples): top-1 by retrieval_score, the
    match rule on that score, provenance + P31 typing. A fixture row stands
    in for a file: repo "part", path <row>, no content hash."""
    from .triples import links_to_triples

    links = topk.apply_match_rule(
        topk.get_kg_links(
            featured_candidates(spark, sf_dir), k=1, score_col="retrieval_score"
        ),
        "retrieval_score",
    ).select(
        F.lit("part").alias("repo"),
        F.col("row").cast("string").alias("path"),
        F.lit("").alias("content_sha256"),
        "qnode",
        "match",
    )
    return links_to_triples(
        links, entity_index(spark, sf_dir), idx_rows=index_rows(spark, sf_dir)
    )


# ------------------------------------------- training-data pipeline ops

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import exact_duplicates

    return exact_duplicates(load_table(spark, sf_dir, "documents"))


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(load_table(spark, sf_dir, "documents"))


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import simhash_pairs

    return simhash_pairs(load_table(spark, sf_dir, "documents"))


def q_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(load_table(spark, sf_dir, "documents"))


def q_dedup_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import embedding_cosine_pairs

    return embedding_cosine_pairs(
        load_table(spark, sf_dir, "embeddings"), dim=embeddings_dim(spark, sf_dir)
    )


def _ann_queries(embs: DataFrame) -> DataFrame:
    return embs.where(F.col("vec_id") % 100 == 0)


# Uniform embedding dimension of the embeddings table, sniffed ONCE per
# (session, sf_dir) — one min/max-of-size aggregate over a single parquet
# column (same discipline as index_rows above). Powers the unrolled
# codegen'd cosine (functions/vectors.py): a dim hint only ever changes
# the plan, never the result, and a mixed-dim table yields None → the
# original interpreted expressions. On a real deployment the dim is a
# schema-level constant; the sniff stands in for that metadata.
_EMB_DIM_CACHE: dict[tuple[str, str], int | None] = {}


def embeddings_dim(spark: SparkSession, sf_dir: str) -> int | None:
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _EMB_DIM_CACHE:
        r = (
            load_table(spark, sf_dir, "embeddings")
            .select(
                F.min(F.size("embedding")).alias("mn"),
                F.max(F.size("embedding")).alias("mx"),
            )
            .first()
        )
        _EMB_DIM_CACHE[key] = (
            int(r["mx"]) if r["mn"] is not None and r["mn"] == r["mx"] and r["mx"] > 0
            else None
        )
    return _EMB_DIM_CACHE[key]


def q_ann_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import brute_force_topk

    embs = load_table(spark, sf_dir, "embeddings")
    return brute_force_topk(
        embs, _ann_queries(embs), k=5, dim=embeddings_dim(spark, sf_dir)
    )


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import lsh_topk

    embs = load_table(spark, sf_dir, "embeddings")
    return lsh_topk(
        embs, _ann_queries(embs), k=5, dim=embeddings_dim(spark, sf_dir)
    )


def q_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lang-ID + quality + token counts + fingerprints fused into one
    document scan (operators/text.py::text_profile)."""
    from .operators.text import text_profile

    return text_profile(load_table(spark, sf_dir, "documents"))


def q_binary_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.multimodal import binary_features, to_media_table

    return binary_features(to_media_table(load_table(spark, sf_dir, "documents")))


def q_media_decode_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas Arrow-batch decode plumbing with the stub decoder —
    deterministic fake dims; rows-only driver check (Python stage)."""
    from .operators.multimodal import decode_batch, to_media_table

    return decode_batch(to_media_table(load_table(spark, sf_dir, "documents")))


def q_events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.events import pivot_event_counts

    return pivot_event_counts(spark, sf_dir)


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.events import sessionize

    return sessionize(spark, sf_dir)


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.events import hourly_windows

    return hourly_windows(spark, sf_dir)


def q_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.events import json_props_extract

    return json_props_extract(spark, sf_dir)


# 49 entries — kept under the driver's 50-entry board so nothing falls off
# (r02 lost the 4 events_* rows at 54 entries). Near-duplicate feature
# selections are merged into shared entries; every operator family still
# has an oracle-checked row.
QUERIES: dict[str, QueryFn] = {
    "tpch_q1_pricing_summary": analytics.q1_pricing_summary,
    "tpch_q3_top_orders": analytics.q3_top_orders,
    "tpch_q5_region_volume": analytics.q5_region_volume,
    "canonicalize_add_context": q_canonicalize,
    "clean_labels": q_clean,
    "reconcile_json_pivot": q_reconcile_json_pivot,
    "kgtk_index_build": q_kgtk_index_build,
    "retrieval_exact": q_exact,
    "retrieval_ngram": q_ngram,
    "retrieval_trigram": q_trigram,
    "retrieval_fuzzy": q_fuzzy,
    "retrieval_isa": q_retrieval_isa,
    "candidates_dedup": q_candidates,
    "features_string_sims": _feature_query(
        "label_clean", "kg_label", "monge_elkan", "monge_elkan_aliases",
        "jaro_winkler", "levenshtein",
    ),
    "features_singleton_hc": _feature_query(
        "singleton", "best_str_sim", "ignore_candidate"
    ),
    # property-array context match + the --use-relevant-properties pass
    "features_context_match": _feature_query(
        "n_ctx_props", "n_ctx_matched", "context_score", "context_score_3"
    ),
    "features_context_match_typed": q_context_match_typed,
    "features_context_match_array": q_context_match_array,
    "features_kth_percentile": _feature_query("kth_percenter", "pgr_rts"),
    "features_per_column_thresholds": q_per_column_thresholds,
    "features_smc_tfidf_map": _feature_query("smc_class_score", "smc_property_score"),
    "features_pseudo_gt": _feature_query("pseudo_gt"),
    "features_pseudo_gt_mlp_anchor": q_pseudo_gt_mlp_anchor,
    "features_centroid": _feature_query("pgt_centroid_score"),
    "features_centroid_lof": q_centroid_lof,
    "features_pgt_tfidf_map": _feature_query(
        "pgt_class_count_tf_idf_score", "pgt_property_count_tf_idf_score"
    ),
    "ranker_pseudo_gt_mlp": _feature_query("pseudo_gt_prediction"),
    "ranker_siamese_mlp": q_ranker_siamese,
    "kg_links_top3": q_kg_links_top3,
    "join_back_top1": q_join_back_top1,
    "add_color": q_add_color,
    "match_rule": q_match_rule,
    "reconcile_response": q_reconcile_response,
    "wikify_end_to_end": q_wikify_end_to_end,
    "connected_components": q_connected_components,
    "triples_emit": q_triples_emit,
    "events_pivot": q_events_pivot,
    "events_sessionize": q_events_sessionize,
    "events_hourly_windows": q_events_hourly,
    "events_json_extract": q_events_json,
    "dedup_exact": q_dedup_exact,
    "dedup_minhash_lsh": q_dedup_minhash,
    "dedup_simhash": q_dedup_simhash,
    "dedup_ngram_jaccard": q_dedup_ngram,
    "dedup_embedding_cosine": q_dedup_cosine,
    "ann_cosine_topk": q_ann_brute,
    "ann_lsh_topk": q_ann_lsh,
    "text_analysis": q_text_profile,
    "multimodal_binary_features": q_binary_features,
    "multimodal_decode_stub": q_media_decode_stub,
}
