"""Label-level (weight_col) execution ≡ row-level execution.

pipeline.wikify runs the whole feature chain on the DISTINCT-label table
with exact integer mention multiplicities (weight_col); every weighted
aggregate must reproduce the row-level result bit-for-bit. This fixture
expands a label-level table by its weights and asserts equality per
(label, qnode) for each weighted operator (the test features.py's
docstrings promise).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from wikidata_wikifier_spark.operators import features


@pytest.fixture(scope="module")
def tables(spark):
    rows = []
    for i in range(12):
        lab = f"l{i}"
        w = (i % 4) + 1
        for q in range(3):
            rows.append(
                (
                    lab,
                    f"Q{(i + q) % 8}",
                    w,
                    float((i * 3 + q) % 7),
                    int((i * 3 + q) % 7),
                    (i + q) % 2,
                    0,
                )
            )
    label_df = spark.createDataFrame(
        rows,
        "label_clean string, qnode string, w int, score double, score_i long,"
        " anchor int, ignore_candidate int",
    ).localCheckpoint()
    # row-level twin: one row per mention (label repeated w times)
    row_df = (
        label_df.withColumn("_i", F.explode(F.sequence(F.lit(1), F.col("w"))))
        .withColumn("row", F.concat_ws("#", "label_clean", F.col("_i").cast("string")))
        .drop("_i", "w")
        .localCheckpoint()
    )
    emb_dim = (
        label_df.select("qnode")
        .distinct()
        .select(
            "qnode",
            F.transform(
                F.sequence(F.lit(0), F.lit(3)),
                lambda d: (
                    (F.conv(F.substring(F.md5("qnode"), 1, 6), 16, 10).cast("long")
                     * (d + 3)) % 17
                ).cast("double") / 17.0,
            ).alias("embedding"),
        )
        .localCheckpoint()
    )
    key_dim = (
        label_df.select("qnode")
        .distinct()
        .select(
            "qnode",
            F.explode(
                F.filter(
                    F.array(
                        F.concat(F.lit("k"), F.substring("qnode", 2, 1)),
                        F.when(
                            F.substring("qnode", 2, 1).cast("int") % 2 == 0,
                            F.lit("keven"),
                        ),
                    ),
                    lambda x: x.isNotNull(),
                )
            ).alias("key"),
        )
        .localCheckpoint()
    )
    return label_df, row_df, emb_dim, key_dim


def _pdf(df, cols):
    return (
        df.select(*cols).distinct().toPandas().sort_values(cols).reset_index(drop=True)
    )


def _assert_same(lab_out, row_out, value_cols):
    cols = ["label_clean", "qnode"] + value_cols
    a = _pdf(lab_out, cols)
    b = _pdf(row_out, cols)
    assert a.equals(b), f"\nlabel-level:\n{a}\nrow-level:\n{b}"


def test_kth_percentile_weighted(spark, tables):
    label_df, row_df, _, _ = tables
    lab = features.kth_percentile(
        label_df, score_col="score", cell_col="label_clean",
        weight_col="w", minimum_cells=10,
    )
    row = features.kth_percentile(
        row_df, score_col="score", cell_col="row", minimum_cells=10
    )
    _assert_same(lab, row, ["kth_percenter"])


def test_semantic_tfidf_map_weighted(spark, tables):
    label_df, row_df, _, key_dim = tables
    lab = features.semantic_tfidf_map_multi(
        label_df, [(key_dim, "s")], "anchor", weight_col="w"
    )
    row = features.semantic_tfidf_map_multi(row_df, [(key_dim, "s")], "anchor")
    _assert_same(lab, row, ["s"])


def test_create_pseudo_gt_weighted(spark, tables):
    label_df, row_df, _, _ = tables
    lab = features.create_pseudo_gt(
        label_df, "score_i", filter_col="score_i", weight_col="w"
    )
    row = features.create_pseudo_gt(
        row_df, "score_i", filter_col="score_i"
    )
    _assert_same(lab, row, ["pseudo_gt"])


def test_centroid_weighted(spark, tables):
    label_df, row_df, emb_dim, _ = tables
    lab = features.embedding_centroid_score(
        label_df, emb_dim=emb_dim, anchor_col="anchor", weight_col="w"
    )
    row = features.embedding_centroid_score(
        row_df, emb_dim=emb_dim, anchor_col="anchor"
    )
    _assert_same(lab, row, ["pgt_centroid_score"])


def _chain_inputs(spark):
    """Six labels, each repeated in 1-4 mention rows that share its
    context. Every label has one near-exact (HC) candidate; five also have
    a loose one. The HC candidates' context scores are 0.5 for most rows
    and higher for two labels (3 of 13 HC rows), so kth-percentile on
    context_score anchors them, and the anchored 'tool' class gives the
    HC candidates a smc_class_score, hence pseudo-GT anchors. P_c matches
    for every HC row, so it is the one relevant property."""
    from wikidata_wikifier_spark.schemas import ENTITY_INDEX

    labels = ["cold widget", "iron anvil", "stone crank", "blue valve",
              "red gear", "old pulley"]
    weights = [1, 2, 3, 4, 1, 2]

    def ctx(prop, value):
        return {"property": prop, "value": value, "vtype": "string"}

    ents, cands = [], []
    for i, lab in enumerate(labels):
        hc_ctx = [ctx("P_a", "nomatch"), ctx("P_c", "shared")]
        if i == 0:
            hc_ctx = [ctx("P_a", "alpha"), ctx("P_c", "shared")]
        if i == 5:
            hc_ctx = [ctx("P_a", "alpha"), ctx("P_b", "zzzz"), ctx("P_c", "shared")]
        ents.append({
            "qnode": f"Q{i}", "label": lab, "aliases": [lab, f"the {lab}"],
            "description": "", "pagerank": 0.0, "class": "tool",
            "embedding": [float((i * 7 + d) % 5) for d in range(4)],
            "class_count": {"tool": 1, f"c{i % 3}": 1},
            "property_count": {"P_a": 1, **({"P_b": 1} if i % 2 else {})},
            "context_arr": hc_ctx,
        })
        cands.append((lab, f"Q{i}", lab, round(0.1 + 0.2 * i, 6), 1.0, 1 + i % 3))
        if i != 4:
            loose = f"zz loose {i}"
            ents.append({
                "qnode": f"Q{10 + i}", "label": loose, "aliases": [loose],
                "description": "", "pagerank": 0.0, "class": "part",
                "embedding": [float((i + d) % 3) for d in range(4)],
                "class_count": {"part": 1, f"c{i % 2}": 1},
                "property_count": {"P_b": 1},
                "context_arr": [ctx("P_a", "nomatch")],
            })
            cands.append((lab, f"Q{10 + i}", loose, 0.05 * i, 0.6, 1))
    index = spark.createDataFrame(ents, ENTITY_INDEX)
    w_of = dict(zip(labels, weights))
    lab_df = spark.createDataFrame(
        [c + (w_of[c[0]], "alpha|shared|noise") for c in cands],
        "label_clean string, qnode string, kg_label string, pagerank double,"
        " retrieval_score double, num_occurences int, w int, context string",
    )
    row_df = (
        lab_df.withColumn("_i", F.explode(F.sequence(F.lit(1), F.col("w"))))
        .withColumn("row", F.concat_ws("#", "label_clean", F.col("_i").cast("string")))
        .drop("_i", "w")
    )
    return index, len(ents), lab_df, row_df


def test_feature_chain_label_level_equals_row_level(spark):
    from wikidata_wikifier_spark.pipeline import feature_chain

    index, idx_rows, lab_df, row_df = _chain_inputs(spark)
    row_out = feature_chain(row_df, index, idx_rows, cell_col="row").localCheckpoint()
    lab_out = feature_chain(
        lab_df, index, idx_rows, cell_col="label_clean", weight_col="w"
    )
    fanned = row_df.select("row", "label_clean", "qnode").join(
        lab_out, ["label_clean", "qnode"]
    )
    feats = sorted(set(row_out.columns) - set(row_df.columns))
    assert {"kth_percenter", "pseudo_gt", "context_score_3",
            "pgt_centroid_score"} <= set(feats)
    cols = ["row", "qnode"] + feats
    a = row_out.select(*cols).toPandas().sort_values(cols[:2]).reset_index(drop=True)
    b = fanned.select(*cols).toPandas().sort_values(cols[:2]).reset_index(drop=True)
    assert len(a) == 25
    assert a.equals(b), f"\nrow-level:\n{a}\nlabel-level fanned out:\n{b}"
    # the anchored half of the chain is exercised, not all zeros
    assert a["kth_percenter"].sum() == 3
    assert a["pseudo_gt"].sum() > 0
    assert (a["smc_class_score"] > 0).any()
    assert (a["context_score_3"] > 0).any()
    assert (a["pgt_centroid_score"] > 0).any()
