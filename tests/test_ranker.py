"""MLP ranker: the pandas-UDF inference path must be bit-exact with a
pure-numpy oracle computed in the test (FIXTURES.md §7)."""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F

from wikidata_wikifier_spark.operators import ranker


def test_mlp_udf_bit_exact(spark):
    rng = np.random.RandomState(7)
    n, d = 64, len(ranker.FINAL_FEATURES)
    x = rng.rand(n, d) * np.array([1] * 9 + [4])
    weights = ranker.make_mlp_weights((d, 2 * d, d, d, 1), seed=3)

    expect = ranker.mlp_forward(
        ranker.minmax_scale(x, ranker.FINAL_DATA_MIN, ranker.FINAL_DATA_MAX), weights
    )

    rows = [tuple(float(v) for v in row) for row in x]
    df = spark.createDataFrame(rows, ranker.FINAL_FEATURES).withColumn(
        "rid", F.monotonically_increasing_id()
    )
    scored = ranker.predict_using_model(
        df,
        ranker.FINAL_FEATURES,
        weights,
        ranker.FINAL_DATA_MIN,
        ranker.FINAL_DATA_MAX,
        "score",
    )
    got = np.array(
        [r["score"] for r in scored.orderBy("rid").select("score").collect()]
    )
    assert np.allclose(got, np.round(expect, 6), atol=0)


def test_calibrated_weights_are_monotone_linear():
    w = ranker.make_calibrated_weights(np.array([1.0, 2.0, 0.5]), gain=4.0, bias=-3.0)
    x = np.array([[0.1, 0.2, 0.3], [0.9, 0.8, 0.7]])
    got = ranker.mlp_forward(x, w)
    lin = 4.0 * (x @ np.array([1.0, 2.0, 0.5])) - 3.0
    want = 1.0 / (1.0 + np.exp(-lin))
    assert np.allclose(got, want, atol=0)


def test_salted_join_equals_plain_join(spark):
    from wikidata_wikifier_spark.plans.skew import salted_join

    big = spark.createDataFrame(
        [(i % 3, f"v{i}") for i in range(300)], ["k", "v"]
    )
    small = spark.createDataFrame([(0, "a"), (1, "b"), (2, "c")], ["k", "tag"])
    plain = big.join(small, "k").select("k", "v", "tag")
    salted = salted_join(big, small, "k", salt=4).select("k", "v", "tag")
    assert plain.count() == salted.count()
    assert plain.exceptAll(salted).count() == 0


CALIBRATED_PASSES = [
    (ranker.PSEUDO_GT_FEATURES, ranker.pseudo_gt_weights,
     ranker.PSEUDO_GT_DATA_MIN, ranker.PSEUDO_GT_DATA_MAX),
    (ranker.FINAL_FEATURES, ranker.final_ranker_weights,
     ranker.FINAL_DATA_MIN, ranker.FINAL_DATA_MAX),
    (ranker.FINAL_FEATURES, ranker.pipeline_ranker_weights,
     ranker.FINAL_DATA_MIN, ranker.FINAL_DATA_MAX),
]


def _calibrated_feature_table(spark):
    """Seeded 6-dp feature rows over every ranker feature, plus edge rows:
    all 0, all 1, every feature at its range max, all null, and random
    nulls."""
    ranges = {}
    for feats, _mkw, dmin, dmax in CALIBRATED_PASSES:
        ranges.update(zip(feats, zip(dmin.tolist(), dmax.tolist())))
    cols = sorted(ranges)
    rng = np.random.RandomState(11)
    rows = [
        [0.0] * len(cols),
        [1.0] * len(cols),
        [ranges[c][1] for c in cols],
        [None] * len(cols),
    ]
    for _ in range(300):
        row = []
        for c in cols:
            lo, hi = ranges[c]
            v = round(float(lo + (hi - lo) * rng.rand()), 6)
            row.append(None if rng.rand() < 0.05 else v)
        rows.append(row)
    schema = ", ".join(f"{c} double" for c in cols)
    return spark.createDataFrame(rows, schema).withColumn(
        "rid", F.monotonically_increasing_id()
    )


def test_calibrated_native_path_equals_udf_path(spark, monkeypatch):
    """predict_using_model's native closed form for calibrated weights
    emits the same round(·, 6) scores as the pandas-UDF network it
    replaces, for every production calibration."""
    df = _calibrated_feature_table(spark).localCheckpoint()
    for feats, mkw, dmin, dmax in CALIBRATED_PASSES:
        assert ranker._calibrated_params(mkw()) is not None
        native = ranker.predict_using_model(df, feats, mkw(), dmin, dmax, "s")
        with monkeypatch.context() as m:
            m.setattr(ranker, "_calibrated_params", lambda _w: None)
            udf = ranker.predict_using_model(df, feats, mkw(), dmin, dmax, "s")
        got = {r["rid"]: r["s"] for r in native.select("rid", "s").collect()}
        want = {r["rid"]: r["s"] for r in udf.select("rid", "s").collect()}
        assert len(got) == 304
        assert got == want, mkw.__name__
