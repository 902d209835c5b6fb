"""centroid-of-lof behavior: the planted outliers in datagen.entity_rows
(every 37th entity offset by +3.0, datagen.py) must be dropped before the
centroid, and the resulting centroid must equal the inlier mean."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from wikidata_wikifier_spark import datagen
from wikidata_wikifier_spark.operators.features import (
    LOF_K,
    LOF_THRESHOLD,
    _lof_scores,
    centroid_cosine_scores,
    embedding_centroid_score,
    lof_surviving_anchors,
)


def test_lof_flags_planted_outliers():
    ents = datagen.entity_rows(200)
    x = np.array([e["embedding"] for e in ents])
    lof = _lof_scores(x, LOF_K)
    planted = {i for i in range(200) if i % 37 == 0}
    flagged = {i for i, v in enumerate(lof) if v > LOF_THRESHOLD}
    assert planted <= flagged, f"planted outliers not flagged: {planted - flagged}"
    # the bulk of the clustered points must survive
    assert len(flagged) < 40


def test_lof_centroid_excludes_outliers(spark):
    idx = datagen.entity_index_df(spark, 200)
    emb_dim = idx.select("qnode", "embedding")
    # every entity is an anchor candidate for one synthetic mention
    cands = idx.select(
        F.lit(0).alias("row"), "qnode", F.lit(1).alias("pseudo_gt")
    )
    # the centroid-of-lof composition of queries.q_centroid_lof
    surv = lof_surviving_anchors(cands, emb_dim=emb_dim)
    scored = centroid_cosine_scores(
        cands, surv.withColumn("w", F.lit(1)), emb_dim, "pgt_centroid_lof_score"
    )
    plain = embedding_centroid_score(cands, emb_dim=emb_dim)

    ents = datagen.entity_rows(200)
    x = np.array([e["embedding"] for e in ents])
    lof = _lof_scores(x, LOF_K)
    inliers = x[lof <= LOF_THRESHOLD]
    expect_centroid = np.round(inliers.mean(axis=0), 6)

    got = {r["qnode"]: r["pgt_centroid_lof_score"] for r in scored.collect()}
    cn = np.linalg.norm(expect_centroid)
    for i, e in enumerate(ents):
        v = np.array(e["embedding"])
        want = round(float(v @ expect_centroid / (np.linalg.norm(v) * cn)), 6)
        assert abs(got[e["qnode"]] - want) < 2e-6, (i, got[e["qnode"]], want)

    # and the LOF centroid must differ from the outlier-skewed plain one
    gplain = {r["qnode"]: r["pgt_centroid_score"] for r in plain.collect()}
    diffs = [abs(got[q] - gplain[q]) for q in got]
    assert max(diffs) > 1e-4
