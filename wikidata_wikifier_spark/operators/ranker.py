"""MLP candidate ranking — `predict-using-model` (SURVEY.md §2.4).

Reference (wikifier/wikifier.py:179-183, 206-209): MinMax-scale the feature
vector, run a small "siamese" PairwiseNetwork MLP
(contrastive_model.py:26-55): final ranker 10→20→10→10→1, pseudo-GT ranker
9→18→9→9→1, ReLU×3 + sigmoid.

Spark-first: the model is 4 weight matrices — pure numpy matmul inside a
vectorized Arrow pandas UDF. Weights + scaler params are closed over (tiny,
serialized once per executor with the UDF; at cluster scale use
sc.broadcast for multi-MB models). No torch dependency at inference.

Weights here are deterministically seeded (the reference's .pth artifacts
are its training output, not a semantic contract); the architecture,
scaling, and activation math are the parity surface, asserted bit-exactly
against a pure-numpy oracle in tests/test_ranker.py.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

# Final ranker features (wikifier/wikifier.py:32-35; scaler n_features=10)
FINAL_FEATURES = [
    "monge_elkan",
    "monge_elkan_aliases",
    "jaro_winkler",
    "levenshtein",
    "singleton",
    "context_score_3",
    "pgt_centroid_score",
    "pgt_class_count_tf_idf_score",
    "pgt_property_count_tf_idf_score",
    "num_occurences",
]
# Pseudo-GT ranker features (wikifier/wikifier.py:37-39; scaler n_features=9)
PSEUDO_GT_FEATURES = [
    "monge_elkan",
    "monge_elkan_aliases",
    "jaro_winkler",
    "levenshtein",
    "singleton",
    "pgr_rts",
    "context_score",
    "smc_class_score",
    "smc_property_score",
]


# Fixed MinMax scaler ranges (the reference ships fitted scaler pickles —
# wikifier/model/*.pkl; we pin deterministic ranges per feature family:
# string sims / flags / fractions / normalized TF-IDF ∈ [0,1], pgr_rts ≤ ~3
# (pagerank ≤ ~3 × retrieval ≤ 1), num_occurences ∈ [1,4] as pinned by
# the reference scaler data_min_/data_max_).
PSEUDO_GT_DATA_MIN = np.array([0, 0, 0, 0, 0, 0, 0, 0, 0], dtype=np.float64)
PSEUDO_GT_DATA_MAX = np.array([1, 1, 1, 1, 1, 3, 1, 1, 1], dtype=np.float64)
FINAL_DATA_MIN = np.array([0, 0, 0, 0, 0, 0, 0, 0, 0, 1], dtype=np.float64)
FINAL_DATA_MAX = np.array([1, 1, 1, 1, 1, 1, 1, 1, 1, 4], dtype=np.float64)


def make_mlp_weights(layer_sizes: tuple[int, ...], seed: int) -> dict[str, np.ndarray]:
    """Deterministic Xavier-ish init matching PairwiseNetwork shapes:
    in→2*in→in→in→1 (contrastive_model.py:26-55)."""
    rng = np.random.RandomState(seed)
    weights: dict[str, np.ndarray] = {}
    for i, (a, b) in enumerate(zip(layer_sizes[:-1], layer_sizes[1:])):
        scale = np.sqrt(2.0 / (a + b))
        weights[f"W{i}"] = (rng.randn(a, b) * scale).astype(np.float64)
        weights[f"b{i}"] = np.zeros(b, dtype=np.float64)
    return weights


def make_calibrated_weights(
    feature_weights: np.ndarray, gain: float, bias: float
) -> dict[str, np.ndarray]:
    """Construct PairwiseNetwork weights that compute exactly
    sigmoid(gain * (w·x_scaled) + bias).

    The reference ships trained checkpoints (wikifier/model/*.pth); we
    can't reuse those artifacts, so we calibrate the same architecture to
    a monotone linear ranker: layer 0 places w·x in the first hidden unit
    (non-negative w and 0-1 scaled features keep it in ReLU's linear
    region), layers 1-2 pass it through, layer 3 applies gain/bias before
    the sigmoid. Ranking order equals w·x order — interpretable, and the
    match rule's 0.95 cut maps to a w·x threshold.
    """
    n = len(feature_weights)
    w = {}
    w["W0"] = np.zeros((n, 2 * n))
    w["W0"][:, 0] = feature_weights
    w["b0"] = np.zeros(2 * n)
    w["W1"] = np.zeros((2 * n, n))
    w["W1"][0, 0] = 1.0
    w["b1"] = np.zeros(n)
    w["W2"] = np.zeros((n, n))
    w["W2"][0, 0] = 1.0
    w["b2"] = np.zeros(n)
    w["W3"] = np.zeros((n, 1))
    w["W3"][0, 0] = gain
    w["b3"] = np.array([bias])
    return w


# Emphasis mirrors the reference's feature importance story: string sims
# dominate, context/semantic consistency break ties, retrieval redundancy
# (num_occurences) and pagerank-flavored features assist.
FINAL_FEATURE_WEIGHTS = np.array(
    [1.5, 1.0, 0.75, 0.75, 0.3, 2.0, 0.1, 0.25, 0.25, 0.5]
)
PSEUDO_GT_FEATURE_WEIGHTS = np.array([1.5, 1.0, 0.75, 0.75, 0.3, 0.5, 1.5, 0.25, 0.25])


def final_ranker_weights() -> dict[str, np.ndarray]:
    return make_calibrated_weights(FINAL_FEATURE_WEIGHTS, gain=4.0, bias=-24.0)


def pipeline_ranker_weights() -> dict[str, np.ndarray]:
    """Final-ranker calibration for the source-repo pipeline, where
    context comes from file co-mentions (near-zero for most candidates —
    co-mention labels rarely resemble an entity's property values, but a
    genuine context hit adds up to +2.0·score to w·x and breaks label
    ambiguity): the match threshold shifts down so exact-label links
    (w·x ≈ 5.0) auto-match and partial identifier matches (w·x ≲ 4.0)
    do not."""
    return make_calibrated_weights(FINAL_FEATURE_WEIGHTS, gain=4.0, bias=-14.0)


def pseudo_gt_weights() -> dict[str, np.ndarray]:
    return make_calibrated_weights(PSEUDO_GT_FEATURE_WEIGHTS, gain=4.0, bias=-16.0)


def mlp_forward(x: np.ndarray, weights: dict[str, np.ndarray]) -> np.ndarray:
    """ReLU × (n-1 layers) + sigmoid output — PairwiseNetwork.predict."""
    h = x
    n_layers = len(weights) // 2
    for i in range(n_layers):
        h = h @ weights[f"W{i}"] + weights[f"b{i}"]
        if i < n_layers - 1:
            h = np.maximum(h, 0.0)
    return 1.0 / (1.0 + np.exp(-h[:, 0]))


def minmax_scale(x: np.ndarray, data_min: np.ndarray, data_max: np.ndarray) -> np.ndarray:
    """sklearn MinMaxScaler.transform semantics (feature_range (0,1));
    constant features map to 0 like the reference's fitted scalers."""
    rng = data_max - data_min
    rng = np.where(rng == 0, 1.0, rng)
    return (x - data_min) / rng


def _calibrated_params(
    weights: dict[str, np.ndarray],
) -> tuple[np.ndarray, float, float] | None:
    """(feature_weights, gain, bias) iff `weights` is EXACTLY the output
    of make_calibrated_weights for some (fw, gain, bias) — verified by
    reconstructing and comparing every array bit-for-bit — else None."""
    try:
        fw = np.asarray(weights["W0"], dtype=np.float64)[:, 0]
        gain = float(np.asarray(weights["W3"])[0, 0])
        bias = float(np.asarray(weights["b3"])[0])
    except (KeyError, IndexError):
        return None
    expect = make_calibrated_weights(fw, gain=gain, bias=bias)
    if set(weights) != set(expect):
        return None
    for k, v in expect.items():
        got = np.asarray(weights[k])
        if got.shape != v.shape or not np.array_equal(got, v):
            return None
    return fw, gain, bias


def predict_using_model(
    df: DataFrame,
    features: list[str],
    weights: dict[str, np.ndarray],
    data_min: np.ndarray,
    data_max: np.ndarray,
    out: str,
) -> DataFrame:
    """`predict-using-model -o {out} --features ... --normalization-factor
    ...` as ONE vectorized pandas UDF over an array column (single Arrow
    exchange for all features; model math is numpy matmul per batch).

    CALIBRATED fast path (r06, guide §4.1 — eliminate the Python
    boundary): every production caller uses make_calibrated_weights, whose
    network collapses EXACTLY to sigmoid(gain·relu(Σ xs_i·fw_i)+bias)
    (the IEEE-identity proof lives in oracles._calibrated_mlp_sql — the
    DuckDB oracle for the two ranker queries already computes this closed
    form). When the weight dict matches that structure bit-for-bit, the
    score is emitted as a NATIVE codegen'd column expression with the
    same left-to-right term association as the oracle SQL: no Arrow
    exchange, and the surrounding stage stays one codegen span. Its
    round(·, 6) output equals the UDF path's for every production
    calibration (tests/test_ranker.py::
    test_calibrated_native_path_equals_udf_path). Arbitrary weights (e.g.
    the random-weight pytest) keep the vectorized UDF path."""
    calib = _calibrated_params(weights)
    if calib is not None and len(features) == len(calib[0]):
        fw, gain, bias = calib
        dmin_l = np.asarray(data_min, dtype=np.float64).tolist()
        dmax_l = np.asarray(data_max, dtype=np.float64).tolist()
        dot = None
        for c, w_i, lo, hi in zip(features, fw.tolist(), dmin_l, dmax_l):
            rng_i = hi - lo if hi != lo else 1.0
            xs = (
                F.coalesce(F.col(c).cast("double"), F.lit(0.0)) - F.lit(lo)
            ) / F.lit(rng_i)
            term = xs * F.lit(float(w_i))
            dot = term if dot is None else dot + term
        z = F.lit(gain) * F.greatest(dot, F.lit(0.0)) + F.lit(bias)
        score = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        return df.withColumn(out, F.round(score, 6))

    w = {k: v.copy() for k, v in weights.items()}
    dmin = np.asarray(data_min, dtype=np.float64)
    dmax = np.asarray(data_max, dtype=np.float64)

    @pandas_udf(DoubleType())
    def score_udf(feat: pd.Series) -> pd.Series:
        x = np.asarray(feat.tolist(), dtype=np.float64)
        if x.size == 0:
            return pd.Series([], dtype="float64")
        x = minmax_scale(x, dmin, dmax)
        return pd.Series(mlp_forward(x, w))

    arr = F.array(*[F.coalesce(F.col(c).cast("double"), F.lit(0.0)) for c in features])
    return df.withColumn(out, F.round(score_udf(arr), 6))
