"""End-to-end wikification pipeline over a source-repo table
(north_star): mention detection → candidate generation → feature scoring →
MLP re-ranking → top-k links → canonicalization → triples.

This is the Spark re-expression of the reference's three `tl` chains
(wikifier/wikifier.py:79-224) as ONE lazy DataFrame DAG with explicit
barriers only where fan-out would re-execute expensive stages.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .operators import candidates as cand_ops
from .operators import features, ranker, topk
from .operators.connected_components import connected_components
from .operators.mentions import detect_mentions
from .plans.barrier import barrier


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
    the size hint label_candidates computes anyway (one count job). Callers
    that need a hint for their own index-side joins (job.py's typing join
    in links_to_triples) reuse it instead of re-scanning the index.

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

    from .plans.skew import size_aware_broadcast

    lab_cands, idx_rows = cand_ops.label_candidates(
        m.select("label_clean"), index.select("qnode", "label", "aliases", "pagerank")
    )
    if stats is not None:
        stats["idx_rows"] = idx_rows
    # every index-side dimension join carries the exact idx_rows hint so
    # the broadcast degrades to a shuffle join past BROADCAST_MAX_ROWS
    # (a ~100M-entity index must NOT be driver-broadcast)
    full = (
        lab_cands.join(lab_w, "label_clean")
        .join(size_aware_broadcast(index.select("qnode", "class"), idx_rows), "qnode")
        .select(
            "label_clean", "qnode", "kg_label", "w", "class",
            F.round("pagerank", 6).alias("pagerank"),
            F.round("retrieval_score", 6).alias("retrieval_score"),
            "num_occurences",
        )
    )
    # REAL context when the index carries the typed property array
    # (context.jl analogue): each label's context is its co-mention
    # profile (top-N labels sharing files with it — vocabulary-scale),
    # scored against the candidate's context_arr by the SAME
    # context_match_array operator the tabular path uses. One extra
    # vocabulary-scale join pair; zero corpus-scale work beyond the
    # (already mention-scale) co-occurrence aggregation.
    use_context = "context_arr" in index.columns
    if use_context:
        from .operators.mentions import label_context

        lab_ctx = label_context(m)
        full = (
            full.join(lab_ctx, "label_clean", "left")
            .withColumn("context", F.coalesce(F.col("context"), F.lit("")))
            .join(
                size_aware_broadcast(
                    index.select("qnode", "context_arr"), idx_rows
                ),
                "qnode",
                "left",
            )
        )
        full = features.context_match_array(
            full, out="context_score_arr", keep_micros="_ctx_micros"
        ).drop("context", "n_ctx_props", "n_ctx_matched")
    full = barrier(full)  # vocabulary-sized: barrier is ~free
    f = features.string_similarity_features(
        full, alias_dim=index.select("qnode", "aliases"), dim_rows=idx_rows
    )
    f = features.singleton_feature(f, cell_cols=["label_clean"])
    f = features.pick_hc_candidates(f)
    if use_context:
        # co-mention context vs the index's typed property arrays.
        # context_score = pass-1 full mean; context_score_3 = the
        # --use-relevant-properties SECOND pass (wikifier.py:187-189):
        # per-property match rates over the HC candidates (ignore_candidate
        # = 0, exact integer weights) pick the relevant property set, and
        # the score is re-derived restricted to it — a genuinely distinct
        # ranker signal, not an alias of pass 1.
        f = f.withColumn("context_score", F.col("context_score_arr"))
        # the relevance-rate aggregate and the main table both read f —
        # barrier (vocabulary-scale, ~free) so the string-sim kernel isn't
        # recomputed by the second branch of the fan-out
        f = barrier(f)
        f = features.context_score_relevant(f, weight_col="w")
        f = f.drop("context_score_arr", "context_arr", "_ctx_micros")
    else:
        # no context source (index without context_arr) → scores are 0;
        # kth-percentile anchoring falls back to string-sim quality
        f = f.withColumn("context_score", F.lit(0.0)).withColumn(
            "context_score_3", F.lit(0.0)
        )
    f = features.pgr_rts(f)
    f = barrier(f)
    f = features.kth_percentile(
        f, score_col="best_str_sim", cell_col="label_clean", weight_col="w"
    )
    # REAL class/property count-map features (wikifier.py:165-178): the
    # index carries class_count/property_count maps; both TF-IDF features
    # are computed over the exploded key sets — no more aliasing the class
    # score into the property slot (10 genuinely distinct ranker signals)
    cls_dim = index.select("qnode", F.explode(F.map_keys("class_count")).alias("key"))
    prop_dim = index.select(
        "qnode", F.explode(F.map_keys("property_count")).alias("key")
    )
    f = features.semantic_tfidf_map_multi(
        f,
        [(cls_dim, "smc_class_score"), (prop_dim, "smc_property_score")],
        "kth_percenter",
        weight_col="w",
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
    # mean threshold in exact integer micros (prediction is 6-dp-rounded):
    # deterministic across partitionings and identical to the row-level
    # weighted mean
    f = f.withColumn(
        "_pred_micro",
        F.floor(F.col("pseudo_gt_prediction") * 1e6 + F.lit(0.5)).cast("long"),
    )
    f = features.create_pseudo_gt(
        f, "_pred_micro", "smc_class_score", integral=True, weight_col="w"
    )
    f = barrier(f)
    f = features.embedding_centroid_score(
        f, emb_dim=index.select("qnode", "embedding"),
        weight_col="w", dim_rows=idx_rows,
    )
    f = features.semantic_tfidf_map_multi(
        f,
        [
            (cls_dim, "pgt_class_count_tf_idf_score"),
            (prop_dim, "pgt_property_count_tf_idf_score"),
        ],
        "pseudo_gt",
        weight_col="w",
        dim_rows=idx_rows,
    )
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


def canonicalize_links(
    links: DataFrame, alias_edges: DataFrame, comp_rows: int | None = None
) -> DataFrame:
    """Connected components over sameAs edges → rewrite each linked qnode
    to its component representative (north_rule canonicalization).

    The component map is NODE-scale (the sameAs graph can approach index
    scale), so the join is size-aware: hintless → shuffle join with AQE
    promotion, never a forced driver broadcast of an index-sized map."""
    from .plans.skew import size_aware_broadcast

    comp = connected_components(alias_edges)
    return (
        links.join(
            size_aware_broadcast(comp.withColumnRenamed("node", "qnode"), comp_rows),
            "qnode",
            "left",
        )
        .withColumn("canonical_qnode", F.coalesce(F.col("component"), F.col("qnode")))
        .drop("component")
    )
