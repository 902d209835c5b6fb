"""End-to-end wikification pipeline over a source-repo table
(north_star): mention detection → candidate generation → feature scoring →
MLP re-ranking → top-k links → canonicalization → triples.

This is the Spark re-expression of the reference's three `tl` chains
(wikifier/wikifier.py:79-224) as ONE lazy DataFrame DAG with explicit
barriers only where fan-out would re-execute expensive stages. The feature
chain (wikifier.py:148-205) is composed once, in feature_chain: wikify runs
it label-level, and the oracle-checked board (queries.featured_candidates)
runs the same function row-level. The graph build is composed once, in
build_graph: job.py and streaming/wikify_stream.py both call it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType

from . import triples
from .operators import candidates as cand_ops
from .operators import features, ranker, topk
from .operators.connected_components import connected_components
from .operators.mentions import detect_mentions
from .plans import checkpoint
from .plans.barrier import barrier
from .plans.skew import size_aware_broadcast
from .schemas import CONTEXT_ENTRY


def feature_chain(
    cands: DataFrame,
    index: DataFrame,
    idx_rows: int,
    *,
    cell_col: str,
    weight_col: str | None = None,
) -> DataFrame:
    """The §2.4 feature chain (wikifier.py:148-205), from the string
    similarities through the pseudo-GT-anchored tf-idf. It stops before the
    final ranker: each caller applies its own calibration.

    cands: one row per (cell, candidate) with cell_col, label_clean, qnode,
    kg_label, pagerank and retrieval_score (both 6-dp-rounded),
    num_occurences and context (the cell's '|'-separated context tokens);
    other columns ride through. cell_col names the input cell: `row` for
    one mention, or `label_clean` for one distinct label standing for
    weight_col mentions. Every weighted aggregate reproduces the row-level
    result exactly (tests/test_label_level.py).

    index: ENTITY_INDEX with idx_rows rows (the size hint of every
    index-side join). An index without context_arr scores every context
    feature 0.

    Three choices are settled here, once:
    - context: the typed property array (context_match_array), then the
      --use-relevant-properties second pass (context_score_relevant);
    - kth-percentile anchors on context_score, the reference's
      `-c context_score` (wikifier.py:163);
    - pseudo-GT anchors on the pseudo-GT MLP, compared with its mean in
      exact integer micros (wikifier.py:184-186).
    Every §2.4 operator is called through the `features` module, where
    the traced benchmark (kgbench/run.py) patches it.
    """
    if "context_arr" in index.columns:
        ctx_dim = index.select("qnode", "context_arr")
    else:
        ctx_dim = index.select(
            "qnode", F.lit(None).cast(ArrayType(CONTEXT_ENTRY)).alias("context_arr")
        )
    full = cands.join(size_aware_broadcast(ctx_dim, idx_rows), "qnode", "left")
    full = features.context_match_array(
        full, out="context_score", keep_micros="_ctx_micros"
    )
    # the string-sim pair table and its join-back both read this
    full = barrier(full)
    f = features.string_similarity_features(
        full, index.select("qnode", "aliases"), dim_rows=idx_rows
    )
    f = features.singleton_feature(f, cell_cols=[cell_col])
    f = features.pick_hc_candidates(f)
    # the relevance-rate aggregate and the main table both read f; without
    # the barrier the string-sim kernel runs once per branch
    f = barrier(f)
    f = features.context_score_relevant(f, weight_col=weight_col).drop(
        "context_arr", "_ctx_micros"
    )
    f = features.pgr_rts(f)
    f = barrier(f)
    f = features.kth_percentile(f, cell_col=cell_col, weight_col=weight_col)
    # class_count / property_count maps (wikifier.py:165-178): tf-idf over
    # the exploded key sets
    cls_dim = index.select("qnode", F.explode(F.map_keys("class_count")).alias("key"))
    prop_dim = index.select(
        "qnode", F.explode(F.map_keys("property_count")).alias("key")
    )
    f = features.semantic_tfidf_map_multi(
        f,
        [(cls_dim, "smc_class_score"), (prop_dim, "smc_property_score")],
        "kth_percenter",
        weight_col=weight_col,
        dim_rows=idx_rows,
    )
    f = ranker.predict_using_model(
        f,
        ranker.PSEUDO_GT_FEATURES,
        ranker.pseudo_gt_weights(),
        ranker.PSEUDO_GT_DATA_MIN,
        ranker.PSEUDO_GT_DATA_MAX,
        "pseudo_gt_prediction",
    )
    # the prediction is 6-dp-rounded, so its integer micros are exact and
    # the mean threshold is the same for every partitioning and engine
    f = f.withColumn(
        "_pred_micro",
        F.floor(F.col("pseudo_gt_prediction") * 1e6 + F.lit(0.5)).cast("long"),
    )
    f = features.create_pseudo_gt(
        f, "_pred_micro", "smc_class_score", weight_col=weight_col
    ).drop("_pred_micro")
    f = barrier(f)
    f = features.embedding_centroid_score(
        f, index.select("qnode", "embedding"), weight_col=weight_col, dim_rows=idx_rows
    )
    return features.semantic_tfidf_map_multi(
        f,
        [
            (cls_dim, "pgt_class_count_tf_idf_score"),
            (prop_dim, "pgt_property_count_tf_idf_score"),
        ],
        "pseudo_gt",
        weight_col=weight_col,
        dim_rows=idx_rows,
    )


def wikify(
    source: DataFrame,
    index: DataFrame,
    k: int = 1,
    salt: int | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """source(repo,path,commit,lang,content) × index(ENTITY_INDEX) →
    LINKS table (top-k per mention + match flag), sha256 carried through.

    stats: pass a dict to receive {"idx_rows": <alias-index row count>} —
    the size hint label_candidates computes anyway (one count job).
    build_graph reuses it for the typing join in links_to_triples instead
    of re-scanning the index.

    LABEL-LEVEL EXECUTION: every retrieval score, string similarity,
    ranker feature, MLP prediction, rank, and match flag depends only on
    the mention's cleaned label — two mentions of "cold widget" link
    identically. So the whole candidate+feature+ranking computation runs
    on the DISTINCT-label table (vocabulary-scale: thousands of rows where
    the corpus has billions of mentions), with corpus statistics (tf, the
    pseudo-GT mean, percentile counts, centroid anchor mass) reconstructed
    EXACTLY from integer label multiplicities (weight_col). The only
    corpus-scale stages left are the content scan (mention detection) and
    ONE label-keyed fan-out join at the end — the shape that survives a
    10^12-file input, since per-label state grows with the vocabulary,
    not the corpus.

    The features are feature_chain with cell_col="label_clean",
    weight_col="w"; the final ranker uses the pipeline_ranker_weights
    calibration.
    """
    mentions = detect_mentions(source, with_context=False)
    # mentions feed the label-weight aggregate + the final fan-out; the
    # barrier stops the content scan re-running
    mentions = barrier(mentions)
    m = mentions.select(
        F.col("mention_id").alias("row"),
        "label_clean",
        "repo",
        "path",
        "content_sha256",
        "label",
    )
    # exact integer mention multiplicity per label — the corpus statistics
    # below are weighted by it, making label-level aggregates bit-equal to
    # their row-level counterparts (integer sums, no float order effects)
    lab_w = m.groupBy("label_clean").agg(F.count(F.lit(1)).alias("w"))

    lab_cands, idx_rows = cand_ops.label_candidates(
        m.select("label_clean"), index.select("qnode", "label", "aliases", "pagerank")
    )
    if stats is not None:
        stats["idx_rows"] = idx_rows
    # a label's context is its co-mention profile: the top labels sharing
    # files with it (vocabulary-scale; mention-scale co-occurrence
    # aggregation only)
    from .operators.mentions import label_context

    full = (
        lab_cands.join(lab_w, "label_clean")
        .join(label_context(m), "label_clean", "left")
        .select(
            "label_clean", "qnode", "kg_label", "w",
            F.round("pagerank", 6).alias("pagerank"),
            F.round("retrieval_score", 6).alias("retrieval_score"),
            "num_occurences",
            F.coalesce(F.col("context"), F.lit("")).alias("context"),
        )
    )
    f = feature_chain(full, index, idx_rows, cell_col="label_clean", weight_col="w")
    f = ranker.predict_using_model(
        f,
        ranker.FINAL_FEATURES,
        ranker.pipeline_ranker_weights(),
        ranker.FINAL_DATA_MIN,
        ranker.FINAL_DATA_MAX,
        "siamese_prediction",
    )

    # top-k per mention ≡ top-k per label (identical candidates + scores)
    links = topk.get_kg_links(
        f, k=k, score_col="siamese_prediction", cell_cols=["label_clean"]
    )
    links = topk.apply_match_rule(links)
    lab_links = links.select(
        "label_clean", "qnode", "kg_label", "siamese_prediction",
        F.col("rank").cast("int").alias("rank"), "match",
    )
    # the ONE corpus-scale stage after detection: fan out label-level
    # links to every mention. Three shapes, worst-case first:
    # - salt=N: explicit salted join for the HEAD-LABEL hotspot (the
    #   planted head entity appears in ~25% of files — one key, one
    #   monster task in a plain shuffle join). The tiny link table is
    #   replicated N ways and mentions scatter by a deterministic sibling
    #   hash (plans/skew.py::salted_join), so no single task owns the key.
    # - otherwise broadcast under threshold / AQE-skew-split shuffle join
    #   beyond (size_aware_broadcast).
    if salt and salt > 1:
        from .plans.skew import salted_join

        fanned = salted_join(m, lab_links, "label_clean", salt=salt)
    else:
        fanned = m.join(size_aware_broadcast(lab_links, idx_rows), "label_clean")
    return fanned.select(
        F.col("row").alias("mention_id"),
        "repo",
        "path",
        "label_clean",
        "qnode",
        "kg_label",
        "siamese_prediction",
        "rank",
        "match",
        "content_sha256",
    )


def canonicalize_links(links: DataFrame, alias_edges: DataFrame) -> DataFrame:
    """Connected components over sameAs edges → rewrite each linked qnode
    to its component representative (north_rule canonicalization).

    The component map is NODE-scale (the sameAs graph can approach index
    scale), so the join is hintless: a shuffle join with AQE promotion,
    never a forced driver broadcast of an index-sized map."""
    comp = connected_components(alias_edges)
    return (
        links.join(comp.withColumnRenamed("node", "qnode"), "qnode", "left")
        .withColumn("canonical_qnode", F.coalesce(F.col("component"), F.col("qnode")))
        .drop("component")
    )


def build_graph(
    source: DataFrame,
    index: DataFrame,
    out: str,
    *,
    edges: DataFrame | None,
    k: int,
    salt: int | None,
    resume: bool,
) -> dict:
    """source-repo table → triples written under `out`: wikify →
    canonicalize_links (when sameAs `edges` are given) → links_to_triples →
    write_triples. Returns the writer's stats. The one graph-build path of
    the batch job (job.py) and of every streaming micro-batch
    (streaming/wikify_stream.py).

    One count job serves every size hint: wikify's label_candidates counts
    the alias index anyway and hands it back through `stats`; the typing
    join reuses that number instead of re-scanning the index. The hint
    only gates a broadcast decision, and the alias count (≥ the index row
    count) is a conservative stand-in.

    The triple and writer layers are called through their modules
    (`triples.links_to_triples`, `checkpoint.write_triples`), where the
    traced benchmark (kgbench/run.py) patches them."""
    wikify_stats: dict = {}
    links = wikify(source, index, k=k, salt=salt, stats=wikify_stats)
    if edges is not None:
        links = canonicalize_links(links, edges)
    out_triples = triples.links_to_triples(
        links, index, idx_rows=wikify_stats["idx_rows"]
    )
    return checkpoint.write_triples(out_triples, out, resume=resume)
