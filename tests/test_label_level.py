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
    lab = features.semantic_tfidf_map(label_df, key_dim, "anchor", "s", weight_col="w")
    row = features.semantic_tfidf_map(row_df, key_dim, "anchor", "s")
    _assert_same(lab, row, ["s"])


def test_create_pseudo_gt_weighted(spark, tables):
    label_df, row_df, _, _ = tables
    lab = features.create_pseudo_gt(
        label_df, "score_i", filter_col="score_i", integral=True, weight_col="w"
    )
    row = features.create_pseudo_gt(
        row_df, "score_i", filter_col="score_i", integral=True
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
