"""DuckDB oracle SQL for every driver-checked query in queries.py.

FEATURE_CTES mirrors pipeline.feature_chain run row-level, step by step.

Parquet handoff: wikify_end_to_end / features_centroid_lof read the stage
output the Spark query materialized under ORACLE_CACHE (keyed by the
part+lineitem row-count fingerprint — see queries._handoff), so a
non-SQL-expressible stage (LOF) or a long score chain feeds an
exactly-checked SQL tail.

Shared CTE fragments mirror operators/linking_fixture.py and the
normalization in functions/strings.py verbatim; any change there must be
reflected here (tests/test_oracle_parity.py runs both sides at sf0.001 and
asserts frame equality before the driver ever sees them).
"""

from __future__ import annotations

import os

ORACLE_CACHE = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".oracle_cache")

# clean_label (functions/strings.py): lower → non-alnum runs → space → trim
CLEAN = "trim(regexp_replace(lower({col}), '[^a-z0-9]+', ' ', 'g'))"

LINKING_TEMPLATE = """
WITH entity_index AS (
    SELECT p_partkey                                        AS pkey,
           'Q' || CAST(p_partkey AS VARCHAR)                AS qnode,
           lower(p_name)                                    AS label,
           [lower(p_name),
            lower(p_brand) || ' ' || lower(p_name),
            lower(p_name) || ' ' || lower(p_type)]          AS aliases,
           round(p_retailprice / 1000.0, 6)                 AS pagerank,
           'a ' || lower(p_type) || ' of brand ' || p_brand AS description,
           lower(p_type)                                    AS class,
           [CAST((p_partkey * (d + 13)) % 97 AS DOUBLE) / 97.0
            for d in generate_series(0, 7)]                 AS embedding
    FROM part {isa_where}
),
mentions AS (
    SELECT p_partkey                                        AS row,
           CASE CAST(p_partkey % 3 AS INTEGER)
             WHEN 0 THEN lower(p_name)
             WHEN 1 THEN substr(lower(p_name), 1, length(p_name) - 1)
             ELSE upper(p_name)
           END                                              AS label,
           p_brand || '|' || lower(p_type) || '|' || CAST(p_size AS VARCHAR)
                                                            AS context
    FROM part
    WHERE p_partkey % 5 = 0
),
cm AS MATERIALIZED (
    SELECT row, label,
           trim(regexp_replace(lower(label), '[^a-z0-9]+', ' ', 'g')) AS label_clean,
           context
    FROM mentions
),
alias_idx AS MATERIALIZED (
    SELECT DISTINCT qnode, label, pagerank,
           trim(regexp_replace(lower(a), '[^a-z0-9]+', ' ', 'g')) AS alias_norm
    FROM (SELECT qnode, label, pagerank, unnest(aliases) AS a FROM entity_index)
),
mk AS MATERIALIZED (
    SELECT row, label_clean,
           substr(label_clean, 1, least(length(label_clean), 10)) AS mkey
    FROM cm WHERE length(label_clean) >= 3
),
alias_prefix AS MATERIALIZED (
    SELECT qnode, label, pagerank, alias_norm,
           substr(alias_norm, 1, n) AS prefix
    FROM (SELECT *, unnest(generate_series(3, least(length(alias_norm), 10))) AS n
          FROM alias_idx WHERE length(alias_norm) >= 3)
),
exact_m AS MATERIALIZED (
    SELECT row, label_clean, qnode,
           min(alias_idx.label) AS kg_label,
           min(pagerank) AS pagerank,
           'exact'       AS method,
           1.0           AS retrieval_score
    FROM cm JOIN alias_idx ON cm.label_clean = alias_idx.alias_norm
    GROUP BY 1, 2, 3
    QUALIFY row_number() OVER (PARTITION BY row ORDER BY retrieval_score DESC, qnode ASC) <= 50
),
ngram_m AS MATERIALIZED (
    SELECT row, label_clean, qnode,
           min(label)    AS kg_label,
           min(pagerank) AS pagerank,
           'ngram'       AS method,
           round(max(length(prefix) * 1.0 / length(alias_norm)), 6) AS retrieval_score
    FROM mk JOIN alias_prefix ON mk.mkey = alias_prefix.prefix
    GROUP BY 1, 2, 3
    QUALIFY row_number() OVER (PARTITION BY row ORDER BY retrieval_score DESC, qnode ASC) <= 50
),
astrn AS MATERIALIZED (
    SELECT alias_norm,
           list_distinct([substr(alias_norm, i, 3)
                          for i in generate_series(1, length(alias_norm) - 2)]) AS ag,
           len(list_distinct([substr(alias_norm, i, 3)
                          for i in generate_series(1, length(alias_norm) - 2)])) AS n_a
    FROM (SELECT DISTINCT alias_norm FROM alias_idx)
    WHERE length(alias_norm) >= 3
),
mstrn AS MATERIALIZED (
    SELECT label_clean,
           list_distinct([substr(label_clean, i, 3)
                          for i in generate_series(1, length(label_clean) - 2)]) AS mg,
           len(list_distinct([substr(label_clean, i, 3)
                          for i in generate_series(1, length(label_clean) - 2)])) AS n_m
    FROM (SELECT DISTINCT label_clean FROM cm)
    WHERE length(label_clean) >= 3
),
aex AS MATERIALIZED (SELECT alias_norm, n_a, unnest(ag) AS gram FROM astrn),
sgdf AS MATERIALIZED (SELECT gram, count(*) AS gdf FROM aex GROUP BY gram),
apre AS MATERIALIZED (
    SELECT alias_norm, gram FROM (
        SELECT aex.*, row_number() OVER (PARTITION BY alias_norm
                   ORDER BY sgdf.gdf, aex.gram) AS rk
        FROM aex JOIN sgdf USING (gram))
    WHERE rk <= floor(n_a / 2) + 1
),
mex AS MATERIALIZED (SELECT label_clean, n_m, unnest(mg) AS gram FROM mstrn),
mpre AS MATERIALIZED (
    SELECT label_clean, gram FROM (
        SELECT mex.*, row_number() OVER (PARTITION BY label_clean
                   ORDER BY coalesce(sgdf.gdf, 0), mex.gram) AS rk
        FROM mex LEFT JOIN sgdf USING (gram))
    WHERE rk <= floor(n_m / 2) + 1
),
spairs AS MATERIALIZED (
    SELECT DISTINCT label_clean, alias_norm FROM mpre JOIN apre USING (gram)
),
sscores AS MATERIALIZED (
    SELECT p.label_clean, p.alias_norm,
           len(list_intersect(m.mg, a.ag)) * 1.0
               / (m.n_m + a.n_a - len(list_intersect(m.mg, a.ag))) AS jaccard,
           CASE WHEN greatest(length(label_clean), length(alias_norm)) = 0 THEN 1.0 ELSE 1.0 - levenshtein(label_clean, alias_norm) * 1.0 / greatest(length(label_clean), length(alias_norm)) END AS lev_sim
    FROM spairs p JOIN mstrn m USING (label_clean) JOIN astrn a USING (alias_norm)
),
trigram_m AS MATERIALIZED (
    SELECT row, label_clean, qnode,
           min(alias_idx.label) AS kg_label,
           min(pagerank)        AS pagerank,
           'trigram'            AS method,
           round(max(jaccard), 6) AS retrieval_score
    FROM cm JOIN sscores USING (label_clean) JOIN alias_idx USING (alias_norm)
    WHERE round(jaccard, 6) >= 0.5
    GROUP BY 1, 2, 3
    QUALIFY row_number() OVER (PARTITION BY row ORDER BY retrieval_score DESC, qnode ASC) <= 50
),
fuzzy_m AS MATERIALIZED (
    SELECT row, label_clean, qnode,
           min(alias_idx.label) AS kg_label,
           min(pagerank)        AS pagerank,
           'fuzzy'              AS method,
           round(max(lev_sim), 6) AS retrieval_score
    FROM cm JOIN sscores USING (label_clean) JOIN alias_idx USING (alias_norm)
    WHERE lev_sim >= 0.7
    GROUP BY 1, 2, 3
    QUALIFY row_number() OVER (PARTITION BY row ORDER BY retrieval_score DESC, qnode ASC) <= 50
),
all_candidates AS MATERIALIZED (
    SELECT * FROM exact_m
    UNION ALL SELECT * FROM ngram_m
    UNION ALL SELECT * FROM trigram_m
    UNION ALL SELECT * FROM fuzzy_m
)
"""


def linking_ctes(isa: str | None = None) -> str:
    """Linking CTE chain, optionally with the --isa class restriction
    (mirrors operators/candidates.py::_apply_isa: index filtered BEFORE
    the alias explode, so gram document frequencies and prefix filtering
    see only the restricted class)."""
    where = f"WHERE lower(p_type) = '{isa}'" if isa else ""
    return LINKING_TEMPLATE.format(isa_where=where)


LINKING_CTES = linking_ctes()


def _sym_me(a: str, b: str) -> str:
    """Symmetric Monge-Elkan in DuckDB list-comprehension SQL, mirroring
    functions/strings.py::symmetric_monge_elkan (inner sim jaro-winkler)."""
    return (
        f"0.5 * (list_avg([list_max([jaro_winkler_similarity(t1, t2)"
        f" for t2 in string_split({b}, ' ')]) for t1 in string_split({a}, ' ')])"
        f" + list_avg([list_max([jaro_winkler_similarity(t2, t1)"
        f" for t1 in string_split({a}, ' ')]) for t2 in string_split({b}, ' ')]))"
    )


def _lev_sim(a: str, b: str) -> str:
    return (
        f"CASE WHEN greatest(length({a}), length({b})) = 0 THEN 1.0"
        f" ELSE 1.0 - levenshtein({a}, {b}) * 1.0 / greatest(length({a}), length({b})) END"
    )


def _floor05(expr: str) -> str:
    """string-similarity --threshold 0.5 floor (wikifier.py:149-154),
    mirror of operators/features.py::_floor_sim (applied AFTER rounding)."""
    return f"CASE WHEN {expr} >= 0.5 THEN {expr} ELSE 0.0 END"


# class_count / property_count maps of the linking fixture, pre-exploded to
# (qnode, key, cnt) — mirrors linking_fixture.entity_index's
# map_from_entries derivations verbatim
CLASS_KEYS_CTE = """
class_keys AS MATERIALIZED (
    SELECT 'Q' || CAST(p_partkey AS VARCHAR) AS qnode,
           lower(p_type) AS key,
           CAST(p_partkey % 5 + 1 AS INTEGER) AS cnt
    FROM part
    UNION ALL
    SELECT 'Q' || CAST(p_partkey AS VARCHAR),
           'grp' || CAST(p_partkey % 3 AS VARCHAR),
           CAST(p_partkey % 3 + 1 AS INTEGER)
    FROM part WHERE p_partkey % 2 = 0
    UNION ALL
    SELECT 'Q' || CAST(p_partkey AS VARCHAR),
           'rare' || CAST(p_partkey % 11 AS VARCHAR),
           1
    FROM part WHERE p_partkey % 13 = 0
)
"""

PROP_KEYS_CTE = """
prop_keys AS MATERIALIZED (
    SELECT 'Q' || CAST(p_partkey AS VARCHAR) AS qnode, 'P_brand' AS key,
           CAST(p_partkey % 7 + 1 AS INTEGER) AS cnt
    FROM part
    UNION ALL
    SELECT 'Q' || CAST(p_partkey AS VARCHAR), 'P_size', 1 FROM part
    UNION ALL
    SELECT 'Q' || CAST(p_partkey AS VARCHAR), 'P_container', 2
    FROM part WHERE p_partkey % 2 = 0
    UNION ALL
    SELECT 'Q' || CAST(p_partkey AS VARCHAR), 'P_mfgr',
           CAST(p_partkey % 4 + 1 AS INTEGER)
    FROM part WHERE p_partkey % 3 = 0
)
"""

# typed per-entity context entries (context.jl analogue) — mirrors
# linking_fixture.entity_index's ctx_entries array
CTX_ENTRIES_CTE = """
ctx_entries AS MATERIALIZED (
    SELECT 'Q' || CAST(p_partkey AS VARCHAR) AS qnode,
           'P_brand' AS property, p_brand AS value, 'string' AS vtype
    FROM part
    UNION ALL
    SELECT 'Q' || CAST(p_partkey AS VARCHAR),
           'P_size', CAST(p_size AS VARCHAR), 'quantity'
    FROM part
    UNION ALL
    SELECT 'Q' || CAST(p_partkey AS VARCHAR),
           'P_dob',
           CAST(DATE '1992-01-01' + CAST(p_partkey % 1000 AS INTEGER) AS VARCHAR),
           'date'
    FROM part
)
"""


def _tfidf_map_ctes(prefix: str, src: str, keys: str, anchor: str) -> str:
    """Mirror of operators/features.py::semantic_tfidf_map — per-key
    weights snapped to integer micros before the order-free per-qnode sum,
    then one exact-integer division (engine-bit-stable)."""
    return f"""
{prefix}qn AS MATERIALIZED (SELECT DISTINCT qnode FROM {src}),
{prefix}ck AS MATERIALIZED (SELECT k.qnode, k.key FROM {keys} k JOIN {prefix}qn USING (qnode)),
{prefix}nq AS MATERIALIZED (SELECT count(*) AS n_qnodes FROM {prefix}qn),
{prefix}df AS MATERIALIZED (SELECT key, count(DISTINCT qnode) AS df FROM {prefix}ck GROUP BY key),
{prefix}tf AS MATERIALIZED (
    SELECT key, count(*) AS tf
    FROM (SELECT qnode FROM {src} WHERE {anchor} = 1) s JOIN {keys} k USING (qnode)
    GROUP BY key),
{prefix}mi AS MATERIALIZED (
    SELECT key, CAST(floor(tf * ln(n_qnodes * 1.0 / df) * 1e6 + 0.5) AS BIGINT) AS micro
    FROM {prefix}tf JOIN {prefix}df USING (key) CROSS JOIN {prefix}nq),
{prefix}s AS MATERIALIZED (
    SELECT qnode, sum(coalesce(micro, 0)) AS s
    FROM {prefix}ck LEFT JOIN {prefix}mi USING (key) GROUP BY qnode),
{prefix}w AS MATERIALIZED (
    SELECT qnode, CASE WHEN max(s) OVER () = 0 THEN 0.0
                       ELSE round(s * 1.0 / max(s) OVER (), 6) END AS w
    FROM {prefix}s)
"""


# ---------------- training-data ops: shared SQL fragments ----------------

H60 = "CAST(('0x' || substr(md5({x}), 1, 15)) AS BIGINT)"
NORM_TEXT = r"trim(regexp_replace(lower(text), '\s+', ' ', 'g'))"
TOKS = f"list_filter(string_split({NORM_TEXT}, ' '), x -> x <> '')"

DOC_SHINGLES = f"""
d AS MATERIALIZED (SELECT doc_id, {TOKS} AS toks FROM documents),
sh AS MATERIALIZED (
    SELECT doc_id, unnest(list_distinct(
        [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
         for i in generate_series(1, len(toks) - 2)])) AS s
    FROM d
),
shn AS MATERIALIZED (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)
"""

_SIG_COLS = ",\n           ".join(
    "min((({h} % 2147483647) * {a} + {b}) % 2147483647) AS h{i}".format(
        h=H60.format(x="s"), a=2 * i + 1, b=i * i + 1, i=i
    )
    for i in range(16)
)
_BAND_SELECTS = "\nUNION ALL\n".join(
    f"""SELECT doc_id, {b} AS band,
        {H60.format(x=" || '_' || ".join(f"CAST(h{b*4+r} AS VARCHAR)" for r in range(4)))} AS bh
        FROM sig"""
    for b in range(4)
)

# 60-bit SimHash (full md5-derived hash width), 6 bands x 10 bits —
# mirrors operators/dedup.py SIMHASH_BITS/SIMHASH_BANDS
_SIMHASH_BITSUMS = ",\n           ".join(
    f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}" for i in range(60)
)
_SIMHASH_RECOMBINE = " + ".join(
    f"(CASE WHEN b{i} > 0 THEN CAST({2**i} AS BIGINT) ELSE 0 END)" for i in range(60)
)

_PLANE_DOT = (
    "list_sum([v[i] * CAST((({p} * 31 + (i - 1) * 17) % 13) - 6 AS DOUBLE)"
    " for i in generate_series(1, len(v))])"
)


def _lsh_bucket_sql(n_planes: int) -> str:
    """Mirror of operators/similarity.py::lsh_bucket."""
    return " + ".join(
        f"(CASE WHEN round({_PLANE_DOT.format(p=p)}, 6) >= 0"
        f" THEN CAST({2**p} AS BIGINT) ELSE 0 END)"
        for p in range(n_planes)
    )


def _lsh_bucket_gated_sql(max_planes: int) -> str:
    """Mirror of operators/similarity.py::lsh_bucket_gated (plane p gated
    on p < depth)."""
    return " + ".join(
        f"(CASE WHEN {p} < depth AND round({_PLANE_DOT.format(p=p)}, 6) >= 0"
        f" THEN CAST({2**p} AS BIGINT) ELSE 0 END)"
        for p in range(max_planes)
    )


# adaptive sub-bucket depth: smallest d with bn <= 64 * 2^d (integer
# threshold chain — no float log2 boundary; mirrors dedup.py)
_COSINE_DEPTH = (
    "CASE WHEN bn <= 64 THEN 0 "
    + " ".join(f"WHEN bn <= {64 * 2**d} THEN {d}" for d in range(1, 12))
    + " ELSE 12 END"
)


# plane count must stay in lockstep with operators/similarity.py::N_PLANES
# (oracles.py stays import-free of the Spark package so DuckDB checks can
# run without a JVM on the path)
N_PLANES = 8
_LSH_BUCKET = _lsh_bucket_sql(N_PLANES)


def _calibrated_mlp_sql(
    features: list[tuple[str, float, float, float]],
    gain: float,
    bias: float,
    out: str,
    src: str,
) -> str:
    """The calibrated PairwiseNetwork forward pass (ranker.py::
    make_calibrated_weights + mlp_forward) as one SQL expression —
    closing the last checkable `no_oracle` rows (VERDICT r05 #3).

    make_calibrated_weights places the feature weights in hidden unit 0
    of layer 0 and routes ONLY that unit through layers 1-3 with 1.0
    weights and 0.0 biases, so the network's numpy output is EXACTLY
        sigmoid(gain * relu(Σ_i xs_i·fw_i) + bias),
    xs_i = (coalesce(x_i, 0) − data_min_i) / range_i:
    every other hidden unit is relu(Σ x·0 + 0) = 0.0, and each later
    layer's unit 0 is h·1.0 plus 0.0·0.0 terms — exact IEEE identities
    (h·1.0 = h; adding +0.0 to a non-negative double is exact; relu is
    idempotent on the already-non-negative unit). The dot accumulates
    left-to-right in feature order, matching BLAS dgemm's k-sequential
    accumulation for these k≤10 matmuls; the trailing round(·, 6) on
    both engines absorbs last-ulp libm exp() differences except exactly
    at a .5e-6 boundary (verified hash-exact on every driver SF by the
    parity suite). Weight/scale literals are repr round-trips — the
    parsed doubles are bit-identical to ranker.py's arrays.

    features: (column, weight, data_min, data_max) in model order —
    values must stay in lockstep with ranker.py's FEATURE tables (pinned
    by tests/test_oracle_parity.py both-engine runs).
    """
    terms = []
    for col, w, dmin, dmax in features:
        rng = dmax - dmin if dmax != dmin else 1.0
        terms.append(
            f"((CAST(coalesce({col}, 0.0) AS DOUBLE) - {dmin!r}) / {rng!r})"
            f" * {w!r}"
        )
    dot = " + ".join(terms)
    z = f"{gain!r} * greatest({dot}, 0.0) + {bias!r}"
    return (
        f"SELECT row, qnode, round(1.0 / (1.0 + exp(-({z}))), 6) AS {out} "
        f"FROM {src}"
    )


# feature tables (column, weight, data_min, data_max) — lockstep with
# ranker.py::PSEUDO_GT_FEATURES/FINAL_FEATURES + *_FEATURE_WEIGHTS +
# *_DATA_MIN/MAX (oracle-vs-Spark parity pins the duplication)
_PSEUDO_GT_MLP_FEATURES = [
    ("monge_elkan", 1.5, 0.0, 1.0),
    ("monge_elkan_aliases", 1.0, 0.0, 1.0),
    ("jaro_winkler", 0.75, 0.0, 1.0),
    ("levenshtein", 0.75, 0.0, 1.0),
    ("singleton", 0.3, 0.0, 1.0),
    ("pgr_rts", 0.5, 0.0, 3.0),
    ("context_score", 1.5, 0.0, 1.0),
    ("smc_class_score", 0.25, 0.0, 1.0),
    ("smc_property_score", 0.25, 0.0, 1.0),
]
_FINAL_MLP_FEATURES = [
    ("monge_elkan", 1.5, 0.0, 1.0),
    ("monge_elkan_aliases", 1.0, 0.0, 1.0),
    ("jaro_winkler", 0.75, 0.0, 1.0),
    ("levenshtein", 0.75, 0.0, 1.0),
    ("singleton", 0.3, 0.0, 1.0),
    ("context_score_3", 2.0, 0.0, 1.0),
    ("pgt_centroid_score", 0.1, 0.0, 1.0),
    ("pgt_class_count_tf_idf_score", 0.25, 0.0, 1.0),
    ("pgt_property_count_tf_idf_score", 0.25, 0.0, 1.0),
    ("num_occurences", 0.5, 1.0, 4.0),
]

FEATURE_CTES = (
    LINKING_CTES
    + f""",
cand AS MATERIALIZED (
    SELECT row, label_clean, qnode,
           min(kg_label)                  AS kg_label,
           round(max(pagerank), 6)        AS pagerank,
           round(max(retrieval_score), 6) AS retrieval_score,
           count(DISTINCT method)         AS num_occurences
    FROM all_candidates GROUP BY 1, 2, 3
),
fullc AS MATERIALIZED (
    SELECT c.row, c.label_clean, c.qnode, c.kg_label, c.pagerank,
           c.retrieval_score, c.num_occurences,
           e.aliases, e.class, e.embedding, m.context
    FROM cand c
    JOIN entity_index e ON c.qnode = e.qnode
    JOIN mentions m ON c.row = m.row
),
sf AS MATERIALIZED (
    SELECT *,
           {_floor05(f'round({_sym_me("label_clean", "kg_label")}, 6)')} AS monge_elkan,
           {_floor05(f'round(list_max([{_sym_me("label_clean", "al")} for al in aliases]), 6)')}
                                                          AS monge_elkan_aliases,
           {_floor05('round(jaro_winkler_similarity(label_clean, kg_label), 6)')} AS jaro_winkler,
           {_floor05(f'round({_lev_sim("label_clean", "kg_label")}, 6)')} AS levenshtein
    FROM fullc
),
f1 AS MATERIALIZED (
    SELECT *, CASE WHEN count(*) OVER (PARTITION BY row) = 1 THEN 1 ELSE 0 END AS singleton
    FROM sf
),
f2 AS MATERIALIZED (
    SELECT *,
           round(greatest(monge_elkan, monge_elkan_aliases, jaro_winkler, levenshtein), 6)
               AS best_str_sim,
           CASE WHEN greatest(monge_elkan, monge_elkan_aliases, jaro_winkler, levenshtein) < 0.9
                THEN 1 ELSE 0 END AS ignore_candidate
    FROM f1
),
-- typed property-ARRAY context match: candidate context entries
-- (ctx_entries) × mention context tokens, best score per property in
-- integer micros (mirrors features.context_match_array)
{CTX_ENTRIES_CTE},
ctoks AS MATERIALIZED (
    SELECT row, unnest(string_split(context, '|')) AS t FROM cm
),
cprops AS MATERIALIZED (
    SELECT c.row, c.qnode, e.property,
           CAST(floor(max(
               CASE WHEN e.vtype = 'string' THEN
                        -- both sides non-empty (mirrors features.context_match_array:
                        -- lev_sim('','')=1.0 must not match empty context tokens)
                        (CASE WHEN length(t) > 0 AND length(e.value) > 0
                               AND ({_lev_sim("lower(t)", "lower(e.value)")}) >= 0.85
                              THEN ({_lev_sim("lower(t)", "lower(e.value)")}) ELSE 0.0 END)
                    WHEN e.vtype = 'quantity' THEN
                        (CASE WHEN regexp_matches(t, '^-?[0-9]+(\\.[0-9]+)?$')
                               AND regexp_matches(e.value, '^-?[0-9]+(\\.[0-9]+)?$')
                              THEN (CASE WHEN (CASE WHEN greatest(CAST(t AS DOUBLE), CAST(e.value AS DOUBLE)) = 0 THEN 1.0
                                               ELSE least(CAST(t AS DOUBLE), CAST(e.value AS DOUBLE))
                                                    / greatest(CAST(t AS DOUBLE), CAST(e.value AS DOUBLE)) END) >= 0.9
                                          THEN (CASE WHEN greatest(CAST(t AS DOUBLE), CAST(e.value AS DOUBLE)) = 0 THEN 1.0
                                               ELSE least(CAST(t AS DOUBLE), CAST(e.value AS DOUBLE))
                                                    / greatest(CAST(t AS DOUBLE), CAST(e.value AS DOUBLE)) END)
                                          ELSE 0.0 END)
                              ELSE 0.0 END)
                    ELSE
                        (CASE WHEN regexp_matches(t, '^[0-9]{{4}}-[0-9]{{2}}-[0-9]{{2}}$')
                               AND regexp_matches(e.value, '^[0-9]{{4}}-[0-9]{{2}}-[0-9]{{2}}$')
                               AND TRY_CAST(t AS DATE) = TRY_CAST(e.value AS DATE)
                               AND TRY_CAST(t AS DATE) IS NOT NULL
                              THEN 1.0 ELSE 0.0 END)
               END) * 1e6 + 0.5) AS BIGINT) AS micro
    FROM (SELECT DISTINCT row, qnode FROM cand) c
    JOIN ctx_entries e USING (qnode)
    JOIN ctoks USING (row)
    GROUP BY 1, 2, 3
),
ctx AS MATERIALIZED (
    SELECT row, qnode,
           CAST(count(*) AS BIGINT) AS n_ctx_props,
           CAST(count(*) FILTER (WHERE micro > 0) AS BIGINT) AS n_ctx_matched,
           round(sum(micro) / (count(*) * 1e6), 6) AS context_score
    FROM cprops GROUP BY row, qnode
),
-- --use-relevant-properties (mirrors features.context_score_relevant): a
-- property is relevant when it matched for at least half of the HC rows,
-- 2·Σmatched ≥ Σ in integers; context_score_3 is the mean over relevant
-- entries only
rel AS MATERIALIZED (
    SELECT property
    FROM cprops JOIN f2 USING (row, qnode)
    WHERE ignore_candidate = 0
    GROUP BY property
    HAVING 2 * count(*) FILTER (WHERE micro > 0) >= count(*)
),
ctx3 AS MATERIALIZED (
    SELECT row, qnode, round(sum(micro) / (count(*) * 1e6), 6) AS context_score_3
    FROM cprops JOIN rel USING (property) GROUP BY row, qnode
),
f3 AS MATERIALIZED (
    SELECT f2.*,
           coalesce(ctx.n_ctx_props, 0) AS n_ctx_props,
           coalesce(ctx.n_ctx_matched, 0) AS n_ctx_matched,
           coalesce(ctx.context_score, 0.0) AS context_score,
           coalesce(ctx3.context_score_3, 0.0) AS context_score_3
    FROM f2 LEFT JOIN ctx USING (row, qnode) LEFT JOIN ctx3 USING (row, qnode)
),
f4cells AS MATERIALIZED (SELECT count(DISTINCT row) AS n_cells FROM f3),
f4 AS MATERIALIZED (
    -- minimum_cells=10 gate mirrors features.kth_percentile's default:
    -- a column with < 10 candidate-bearing cells emits no anchors
    SELECT * EXCLUDE (n_cells) FROM (
        SELECT f3.*, f4cells.n_cells,
               CASE WHEN ignore_candidate = 0
                     AND percent_rank() OVER (PARTITION BY ignore_candidate ORDER BY context_score) >= 0.75
                     AND n_cells >= 10
                    THEN 1 ELSE 0 END AS kth_percenter
        FROM f3 CROSS JOIN f4cells)
),
f5 AS MATERIALIZED (
    -- integer-micros product (mirrors operators/features.py::pgr_rts):
    -- identical integer arithmetic on both engines, then one IEEE division
    SELECT *,
           CAST(floor(pagerank * 1e6 + 0.5) AS BIGINT)
             * CAST(floor(retrieval_score * 1e6 + 0.5) AS BIGINT) AS pgr_rts_micro2,
           (CAST(floor(pagerank * 1e6 + 0.5) AS BIGINT)
             * CAST(floor(retrieval_score * 1e6 + 0.5) AS BIGINT)) / 1e12 AS pgr_rts
    FROM f4
),
{CLASS_KEYS_CTE},
{PROP_KEYS_CTE},
{_tfidf_map_ctes("c", "f5", "class_keys", "kth_percenter")},
f6 AS MATERIALIZED (SELECT f5.*, coalesce(cw.w, 0.0) AS smc_class_score FROM f5 LEFT JOIN cw USING (qnode)),
{_tfidf_map_ctes("b", "f6", "prop_keys", "kth_percenter")},
f7 AS MATERIALIZED (SELECT f6.*, coalesce(bw.w, 0.0) AS smc_property_score FROM f6 LEFT JOIN bw USING (qnode)),
pgp AS MATERIALIZED (
    {_calibrated_mlp_sql(_PSEUDO_GT_MLP_FEATURES, 4.0, -16.0, "pseudo_gt_prediction", "f7")}
),
f8 AS MATERIALIZED (
    -- pseudo-GT anchored on the pseudo-GT MLP: x*n >= sum(x) over the
    -- prediction's integer micros (mirrors create_pseudo_gt), so no float
    -- summation order decides a row at the mean boundary
    SELECT *,
           CASE WHEN CAST(floor(pseudo_gt_prediction * 1e6 + 0.5) AS HUGEINT) * count(*) OVER ()
                     >= sum(CAST(floor(pseudo_gt_prediction * 1e6 + 0.5) AS HUGEINT)) OVER ()
                 AND smc_class_score > 0
                THEN 1 ELSE 0 END AS pseudo_gt
    FROM f7 JOIN pgp USING (row, qnode)
),
cent AS MATERIALIZED (
    SELECT i, round(avg(v), 6) AS c
    FROM (SELECT unnest(embedding) AS v, unnest(generate_series(1, 8)) AS i
          FROM f8 WHERE pseudo_gt = 1)
    GROUP BY i
),
csums AS MATERIALIZED (
    SELECT row, qnode, sum(v * c) AS dot, sum(v * v) AS nv, sum(c * c) AS nc
    FROM (SELECT row, qnode, unnest(embedding) AS v,
                 unnest(generate_series(1, 8)) AS i FROM f8) x
    JOIN cent USING (i)
    GROUP BY row, qnode
),
f9 AS MATERIALIZED (
    SELECT f8.*,
           CASE WHEN nv * nc = 0 THEN 0.0
                ELSE round(dot / (sqrt(nv) * sqrt(nc)), 6) END AS pgt_centroid_score
    FROM f8 LEFT JOIN csums USING (row, qnode)
),
{_tfidf_map_ctes("pc", "f9", "class_keys", "pseudo_gt")},
f10 AS MATERIALIZED (SELECT f9.*, coalesce(pcw.w, 0.0) AS pgt_class_count_tf_idf_score
        FROM f9 LEFT JOIN pcw USING (qnode)),
{_tfidf_map_ctes("pb", "f10", "prop_keys", "pseudo_gt")},
f11 AS MATERIALIZED (SELECT f10.*, coalesce(pbw.w, 0.0) AS pgt_property_count_tf_idf_score
        FROM f10 LEFT JOIN pbw USING (qnode))
"""
)


_LANG_SCORES = ",\n           ".join(
    f"len(list_filter(toks, t -> list_contains({words!r}, t))) AS score_{lang}"
    for lang, words in sorted(
        {
            "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein"],
            "en": ["the", "a", "of", "and", "is", "to", "in", "that"],
            "es": ["el", "la", "de", "y", "es", "que", "los", "una"],
            "fr": ["le", "la", "de", "et", "est", "que", "les", "une"],
        }.items()
    )
)
_ALL_STOP = sorted(
    {
        w
        for ws in [
            ["der", "die", "das", "und", "ist", "nicht", "mit", "ein"],
            ["the", "a", "of", "and", "is", "to", "in", "that"],
            ["el", "la", "de", "y", "es", "que", "los", "una"],
            ["le", "la", "de", "et", "est", "que", "les", "une"],
        ]
        for w in ws
    }
)

ORACLES: dict[str, str] = {
    "tpch_q1_pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 4)           AS sum_qty,
               round(sum(l_extendedprice), 4)      AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
               round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4)
                                                   AS sum_charge,
               round(avg(l_quantity), 4)           AS avg_qty,
               round(avg(l_discount), 4)           AS avg_disc,
               count(*)                            AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
    "tpch_q3_top_orders": """
        SELECT o_orderkey,
               strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
               round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY o_orderkey, strftime(o_orderdate, '%Y-%m-%d')
        ORDER BY revenue DESC, o_orderkey ASC
        LIMIT 10
    """,
    "tpch_q5_region_volume": """
        SELECT r_name, n_name,
               round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
               count(*) AS n_items
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name
    """,
    "canonicalize_add_context": """
        SELECT 0 AS "column", c_custkey AS row, CAST(c_name AS VARCHAR) AS label,
               CAST(c_nationkey AS VARCHAR) || '|' || CAST(c_acctbal AS VARCHAR) AS context
        FROM customer
        UNION ALL
        SELECT 1, c_custkey, CAST(c_mktsegment AS VARCHAR),
               CAST(c_nationkey AS VARCHAR) || '|' || CAST(c_acctbal AS VARCHAR)
        FROM customer
    """,
    "clean_labels": f"""
        SELECT p_partkey AS row,
               p_brand || ' ' || p_name || ' ' || p_type AS label,
               {CLEAN.format(col="p_brand || ' ' || p_name || ' ' || p_type")} AS label_clean
        FROM part
    """,
    "kgtk_index_build": r"""
        WITH edges AS MATERIALIZED (
            SELECT 'Q' || CAST(p_partkey AS VARCHAR) AS node1, 'label' AS label,
                   lower(p_name) AS node2 FROM part
            UNION ALL
            SELECT 'Q' || CAST(p_partkey AS VARCHAR), 'alias',
                   lower(p_brand) || ' ' || lower(p_name) FROM part
            UNION ALL
            SELECT 'Q' || CAST(p_partkey AS VARCHAR), 'alias',
                   lower(p_name) || ' ' || lower(p_type) FROM part
            UNION ALL
            SELECT 'Q' || CAST(p_partkey AS VARCHAR), 'P31', lower(p_type) FROM part
            UNION ALL
            SELECT 'Q' || CAST(p_partkey AS VARCHAR), 'P31',
                   'grp' || CAST(p_partkey % 3 AS VARCHAR)
            FROM part WHERE p_partkey % 2 = 0
            UNION ALL
            SELECT 'Q' || CAST(p_partkey AS VARCHAR), 'P31', lower(p_type)
            FROM part WHERE p_partkey % 5 = 0
            UNION ALL
            SELECT 'Q' || CAST(p_partkey AS VARCHAR), 'P_brand', p_brand FROM part
            UNION ALL
            SELECT 'Q' || CAST(p_partkey AS VARCHAR), 'P_brand', p_brand
            FROM part WHERE p_partkey % 3 = 0
            UNION ALL
            SELECT 'Q' || CAST(p_partkey AS VARCHAR), 'P_size',
                   CAST(p_size AS VARCHAR) FROM part
            UNION ALL
            SELECT 'Q' || CAST(p_partkey AS VARCHAR), 'P_dob',
                   CAST(DATE '1992-01-01' + CAST(p_partkey % 1000 AS INTEGER) AS VARCHAR)
            FROM part
            UNION ALL
            SELECT 'Q' || CAST(p_partkey AS VARCHAR), 'description',
                   'a ' || lower(p_type) || ' of brand ' || p_brand FROM part
            UNION ALL
            SELECT 'Q' || CAST(p_partkey AS VARCHAR), 'pagerank',
                   CAST(p_retailprice / 1000.0 AS VARCHAR) FROM part
        ),
        base AS MATERIALIZED (
            SELECT node1 AS qnode,
                   max(CASE WHEN label = 'label' THEN node2 END) AS label,
                   max(CASE WHEN label = 'label' THEN node2 END) || '|' ||
                   array_to_string(list_sort(list_distinct(
                       list(node2) FILTER (WHERE label = 'alias'))), '|') AS aliases,
                   max(CASE WHEN label = 'P31' THEN node2 END) AS class,
                   max(CASE WHEN label = 'description' THEN node2 END) AS description,
                   round(max(CASE WHEN label = 'pagerank'
                                  THEN CAST(node2 AS DOUBLE) END), 6) AS pagerank
            FROM edges GROUP BY node1
        ),
        pv AS MATERIALIZED (
            SELECT node1, label, node2, count(*) AS cnt
            FROM edges WHERE label LIKE 'P%' GROUP BY 1, 2, 3
        ),
        cls AS MATERIALIZED (
            SELECT node1 AS qnode,
                   array_to_string(list_sort(
                       list(node2 || ':' || CAST(cnt AS VARCHAR))), '|') AS class_count_str
            FROM pv WHERE label = 'P31' GROUP BY node1
        ),
        pr AS MATERIALIZED (
            SELECT node1 AS qnode,
                   array_to_string(list_sort(
                       list(label || ':' || CAST(cnt AS VARCHAR))), '|') AS property_count_str
            FROM (SELECT node1, label, sum(cnt) AS cnt FROM pv GROUP BY 1, 2)
            GROUP BY node1
        ),
        ctx AS MATERIALIZED (
            SELECT node1 AS qnode,
                   array_to_string(list_sort(list(label || ':' || node2 || ':' ||
                       CASE WHEN regexp_matches(node2, '^[0-9]{4}-[0-9]{2}-[0-9]{2}$') THEN 'date'
                            WHEN regexp_matches(node2, '^-?[0-9]+(\.[0-9]+)?$') THEN 'quantity'
                            ELSE 'string' END)), '|') AS context_str
            FROM pv WHERE label <> 'P31' GROUP BY node1
        )
        SELECT base.*, cls.class_count_str, pr.property_count_str, ctx.context_str
        FROM base
        LEFT JOIN cls USING (qnode)
        LEFT JOIN pr USING (qnode)
        LEFT JOIN ctx USING (qnode)
    """,
    # reconcile_json_pivot: the Spark side round-trips through real JSON
    # (from_json → explode → pivot); the oracle states the expected table
    # directly from the same deterministic inputs.
    "reconcile_json_pivot": """
        SELECT p_partkey            AS request_id,
               lower(p_name)        AS query,
               lower(p_type)        AS type,
               p_brand              AS P_brand,
               CAST(p_size AS VARCHAR) AS P_size
        FROM part WHERE p_partkey % 5 = 0
    """,
    "retrieval_exact": LINKING_CTES
    + "SELECT row, label_clean, qnode, kg_label, pagerank, method, retrieval_score FROM exact_m",
    "retrieval_ngram": LINKING_CTES
    + "SELECT row, label_clean, qnode, kg_label, pagerank, method, retrieval_score FROM ngram_m",
    "retrieval_trigram": LINKING_CTES
    + "SELECT row, label_clean, qnode, kg_label, pagerank, method, retrieval_score FROM trigram_m",
    "retrieval_fuzzy": LINKING_CTES
    + "SELECT row, label_clean, qnode, kg_label, pagerank, method, retrieval_score FROM fuzzy_m",
    # --isa class restriction (wikifier.py:97-113): exact + fuzzy chains
    # over the class-filtered index in one board entry; 'standard' is one
    # of the six pinned p_type classes so the query is non-empty at any SF
    "retrieval_isa": linking_ctes("standard")
    + """SELECT row, label_clean, qnode, kg_label, pagerank, method, retrieval_score FROM exact_m
         UNION ALL
         SELECT row, label_clean, qnode, kg_label, pagerank, method, retrieval_score FROM fuzzy_m""",
    "candidates_dedup": LINKING_CTES
    + """
        SELECT row, label_clean, qnode,
               min(kg_label)                   AS kg_label,
               round(max(pagerank), 6)         AS pagerank,
               round(max(retrieval_score), 6)  AS retrieval_score,
               count(DISTINCT method)          AS num_occurences,
               array_to_string(list_sort(list_distinct(list(method))), ',') AS methods
        FROM all_candidates
        GROUP BY 1, 2, 3
    """,
    "features_string_sims": FEATURE_CTES
    + """SELECT row, qnode, label_clean, kg_label, monge_elkan,
                monge_elkan_aliases, jaro_winkler, levenshtein FROM sf""",
    "features_singleton_hc": FEATURE_CTES
    + "SELECT row, qnode, singleton, best_str_sim, ignore_candidate FROM f2",
    "features_context_match": FEATURE_CTES
    + """SELECT row, qnode, n_ctx_props, n_ctx_matched, context_score,
                context_score_3 FROM f3""",
    "features_kth_percentile": FEATURE_CTES
    + "SELECT row, qnode, kth_percenter, pgr_rts FROM f5",
    "features_context_match_typed": f"""
        WITH base AS MATERIALIZED (
            SELECT p_partkey AS row,
                   CASE WHEN p_partkey % 4 = 0 THEN p_brand ELSE 'Brand#99' END AS ctx_brand,
                   p_size + CASE WHEN p_partkey % 5 = 0 THEN 0 ELSE 3 END AS ctx_size,
                   DATE '1992-01-01' + CAST(p_partkey % 1000 AS INTEGER) AS cand_date,
                   p_brand AS brand, p_size AS size_q
            FROM part
        ),
        b2 AS MATERIALIZED (
            SELECT *,
                   cand_date + CASE WHEN row % 7 = 0 THEN 0 ELSE 1 END AS ctx_date,
                   {_lev_sim("lower(ctx_brand)", "lower(brand)")} AS bsim,
                   CASE WHEN greatest(CAST(ctx_size AS DOUBLE), CAST(size_q AS DOUBLE)) = 0
                        THEN 1.0
                        ELSE least(CAST(ctx_size AS DOUBLE), CAST(size_q AS DOUBLE))
                             / greatest(CAST(ctx_size AS DOUBLE), CAST(size_q AS DOUBLE))
                   END AS qclose
            FROM base
        ),
        b3 AS MATERIALIZED (
            SELECT row,
                   CASE WHEN bsim >= 0.85 THEN 1 ELSE 0 END AS brand_match,
                   CASE WHEN qclose >= 0.9 THEN 1 ELSE 0 END AS size_q_match,
                   CASE WHEN ctx_date = cand_date THEN 1 ELSE 0 END AS dob_match,
                   round((CASE WHEN bsim >= 0.85 THEN 1 ELSE 0 END) * bsim, 6) AS brand_score,
                   round((CASE WHEN qclose >= 0.9 THEN 1 ELSE 0 END) * qclose, 6) AS size_q_score
            FROM b2
        )
        SELECT row, brand_match, size_q_match, dob_match, brand_score, size_q_score,
               round((brand_score + size_q_score + CAST(dob_match AS DOUBLE)) / 3, 6)
                   AS context_score_typed
        FROM b3
    """,
    "features_per_column_thresholds": """
        WITH base AS MATERIALIZED (
            SELECT o_orderpriority AS "column", o_orderkey AS row,
                   CAST(floor(o_totalprice) AS BIGINT) AS score,
                   CASE WHEN o_orderkey % 7 = 0 THEN 1 ELSE 0 END AS ignore_candidate
            FROM orders
            UNION ALL
            SELECT '0-TINY', 900000001 + i, CAST(i * 1000 + 1 AS BIGINT), 0
            FROM generate_series(0, 4) t(i)
        ),
        cells AS MATERIALIZED (
            SELECT "column", count(DISTINCT row) AS n_cells FROM base GROUP BY 1
        )
        SELECT "column", row,
               CASE WHEN ignore_candidate = 0
                     AND percent_rank() OVER (PARTITION BY "column", ignore_candidate
                                              ORDER BY score) >= 0.75
                     AND n_cells >= 10
                    THEN 1 ELSE 0 END AS kth_percenter,
               CASE WHEN CAST(score AS HUGEINT) * count(*) OVER (PARTITION BY "column")
                         >= sum(CAST(score AS HUGEINT)) OVER (PARTITION BY "column")
                     AND score > 0
                    THEN 1 ELSE 0 END AS pseudo_gt
        FROM base JOIN cells USING ("column")
    """,
    "features_smc_tfidf_map": FEATURE_CTES
    + "SELECT row, qnode, smc_class_score, smc_property_score FROM f7",
    "features_pseudo_gt": FEATURE_CTES + "SELECT row, qnode, pseudo_gt FROM f8",
    "features_centroid": FEATURE_CTES
    + "SELECT row, qnode, pgt_centroid_score FROM f9",
    # centroid-of-lof: the Spark query materialized the LOF-INLIER anchor
    # qnodes (the only non-SQL step) to the shared handoff; the oracle
    # recomputes the centroid over exactly those anchors and the cosine
    # join-back — the same SQL tail as features_centroid (f9) but with
    # the survivor-set centroid
    "features_centroid_lof": FEATURE_CTES
    + f""",
    lof_surv AS MATERIALIZED (
        SELECT DISTINCT qnode
        FROM read_parquet('{ORACLE_CACHE}/lof_survivors/*/*.parquet', union_by_name=true)
        WHERE n_part = (SELECT count(*) FROM part)
          AND n_li = (SELECT count(*) FROM lineitem)
    ),
    lof_emb AS MATERIALIZED (
        SELECT DISTINCT f8.qnode, f8.embedding
        FROM f8 JOIN lof_surv USING (qnode)
    ),
    lof_cent AS MATERIALIZED (
        SELECT i, round(avg(v), 6) AS c
        FROM (SELECT unnest(embedding) AS v, unnest(generate_series(1, 8)) AS i
              FROM lof_emb)
        GROUP BY i
    ),
    lof_sums AS MATERIALIZED (
        SELECT row, qnode, sum(v * c) AS dot, sum(v * v) AS nv, sum(c * c) AS nc
        FROM (SELECT row, qnode, unnest(embedding) AS v,
                     unnest(generate_series(1, 8)) AS i FROM f8) x
        JOIN lof_cent USING (i)
        GROUP BY row, qnode
    )
    SELECT f8.row, f8.qnode,
           coalesce(CASE WHEN nv * nc = 0 THEN 0.0
                         ELSE round(dot / (sqrt(nv) * sqrt(nc)), 6) END,
                    0.0) AS pgt_centroid_lof_score
    FROM f8 LEFT JOIN lof_sums USING (row, qnode)
    """,
    "features_pgt_tfidf_map": FEATURE_CTES
    + """SELECT row, qnode, pgt_class_count_tf_idf_score,
                pgt_property_count_tf_idf_score FROM f11""",
    # ranker MLPs (r06, VERDICT r05 #3): the CALIBRATED network collapses
    # to sigmoid(gain·relu(w·x_scaled)+bias) exactly (see
    # _calibrated_mlp_sql), so both forward passes ARE SQL-expressible
    # and the last two checkable no_oracle rows flip to hash-exact.
    "ranker_pseudo_gt_mlp": FEATURE_CTES
    + "SELECT row, qnode, pseudo_gt_prediction FROM pgp",
    "ranker_siamese_mlp": FEATURE_CTES
    + _calibrated_mlp_sql(
        _FINAL_MLP_FEATURES, 4.0, -24.0, "siamese_prediction", "f11"
    ),
    "kg_links_top3": FEATURE_CTES
    + """
        SELECT row, qnode, retrieval_score, pagerank, rank FROM (
            SELECT row, qnode, retrieval_score, pagerank,
                   row_number() OVER (PARTITION BY row
                       ORDER BY retrieval_score DESC, qnode ASC) AS rank
            FROM cand)
        WHERE rank <= 3
    """,
    "join_back_top1": FEATURE_CTES
    + """
        SELECT m.row, m.label, m.context, l.qnode, l.retrieval_score, l.rank,
               array_to_string(e.aliases, '|') AS kg_aliases,
               e.description AS kg_descriptions
        FROM cm m LEFT JOIN (
            SELECT row, qnode, retrieval_score, rank FROM (
                SELECT row, qnode, retrieval_score,
                       row_number() OVER (PARTITION BY row
                           ORDER BY retrieval_score DESC, qnode ASC) AS rank
                FROM cand)
            WHERE rank <= 1) l USING (row)
        LEFT JOIN entity_index e ON l.qnode = e.qnode
    """,
    # add-color gradient assignment over the top-3 links (per-cell rank
    # colors per scored column; mirrors operators/topk.py::add_color)
    "add_color": FEATURE_CTES
    + """,
    clinks AS MATERIALIZED (
        SELECT row, qnode, retrieval_score, pagerank, smc_class_score, rank FROM (
            SELECT row, qnode, retrieval_score, pagerank, smc_class_score,
                   row_number() OVER (PARTITION BY row
                       ORDER BY retrieval_score DESC, qnode ASC) AS rank
            FROM f7)
        WHERE rank <= 3
    )
    SELECT row, qnode, rank,
    """
    + ",\n".join(
        f"""
           CASE WHEN {c} IS NOT NULL THEN
             CASE least(row_number() OVER (PARTITION BY row ORDER BY {c} DESC, qnode ASC), 5)
               WHEN 1 THEN '#006400' WHEN 2 THEN '#228B22' WHEN 3 THEN '#66BB66'
               WHEN 4 THEN '#A9DFA9' ELSE '#E8F5E9' END
           END AS {c}_color"""
        for c in ["retrieval_score", "pagerank", "smc_class_score"]
    )
    + "\n    FROM clinks",
    "match_rule": FEATURE_CTES
    + """
        SELECT row, qnode, rank, retrieval_score,
               CASE WHEN retrieval_score > 0.95 AND rank = 1 THEN 1 ELSE 0 END AS match
        FROM (
            SELECT row, qnode, retrieval_score,
                   row_number() OVER (PARTITION BY row
                       ORDER BY retrieval_score DESC, qnode ASC) AS rank
            FROM cand)
        WHERE rank <= 3
    """,
    # typed property-ARRAY context match: the chain's pass-1 context
    "features_context_match_array": FEATURE_CTES
    + """SELECT row, qnode, n_ctx_props, n_ctx_matched,
                context_score AS context_score_array FROM f3""",
    # MLP-anchored pseudo-GT (wikifier.py:184-186): the chain's pseudo_gt
    "features_pseudo_gt_mlp_anchor": FEATURE_CTES
    + "SELECT row, qnode, pseudo_gt AS pseudo_gt_mlp FROM f8",
    # end-to-end pipeline output tail: both engines read the SAME final-MLP
    # score parquet the Spark query materialized; the oracle re-derives the
    # top-1 window (identical tie-break: score DESC, retrieval DESC, qnode
    # ASC) and the >0.95 ∧ rank-1 match rule (wikifier_service.py:132-141)
    "wikify_end_to_end": f"""
        WITH mlp AS MATERIALIZED (
            SELECT row, label_clean, qnode, kg_label, retrieval_score,
                   siamese_prediction
            FROM read_parquet('{ORACLE_CACHE}/siamese_pred/*/*.parquet', union_by_name=true)
            WHERE n_part = (SELECT count(*) FROM part)
              AND n_li = (SELECT count(*) FROM lineitem)
        )
        SELECT row, label_clean, qnode, kg_label, siamese_prediction, rank,
               CASE WHEN siamese_prediction > 0.95 AND rank = 1
                    THEN 1 ELSE 0 END AS match
        FROM (
            SELECT *, row_number() OVER (PARTITION BY row
                       ORDER BY siamese_prediction DESC, retrieval_score DESC,
                                qnode ASC) AS rank
            FROM mlp)
        WHERE rank <= 1
    """,
    # reconcile response typing (wikifier_service.py:116-142): top-5 links
    # + match rule + top class per candidate (class_count order) resolved
    # to a type label
    "reconcile_response": FEATURE_CTES
    + """,
    clabels AS MATERIALIZED (
        -- the class-label dimension (linking_fixture.class_label_dim):
        -- type names resolve through a dimension join, never synthesized
        -- at the response site
        SELECT DISTINCT key AS type_id, 'the ' || key || ' class' AS type_name
        FROM class_keys
    ),
    rrt AS MATERIALIZED (
        SELECT t.qnode, t.key AS type_id,
               coalesce(cl.type_name,
                        upper(substr(t.key, 1, 1)) || substr(t.key, 2)) AS type_name
        FROM (SELECT qnode, key,
                     row_number() OVER (PARTITION BY qnode
                         ORDER BY cnt DESC, key ASC) AS rk
              FROM class_keys) t
        LEFT JOIN clabels cl ON cl.type_id = t.key
        WHERE t.rk = 1
    ),
    rlk AS MATERIALIZED (
        SELECT row, qnode, kg_label, retrieval_score, rank FROM (
            SELECT row, qnode, kg_label, retrieval_score,
                   row_number() OVER (PARTITION BY row
                       ORDER BY retrieval_score DESC, qnode ASC) AS rank
            FROM cand)
        WHERE rank <= 5
    )
    SELECT row, qnode AS id, kg_label AS name, type_id, type_name,
           round(retrieval_score, 6) AS score,
           CASE WHEN retrieval_score > 0.95 AND rank = 1 THEN 1 ELSE 0 END AS match
    FROM rlk LEFT JOIN rrt USING (qnode)
    """,
    "dedup_exact": f"""
        WITH h AS MATERIALIZED (
            SELECT doc_id, {H60.format(x=NORM_TEXT)} AS h FROM documents
        ),
        g AS MATERIALIZED (
            SELECT h, min(doc_id) AS group_id, count(*) AS group_size FROM h GROUP BY h
        )
        SELECT doc_id, group_id, group_size,
               CASE WHEN doc_id = group_id THEN 1 ELSE 0 END AS is_canonical
        FROM h JOIN g USING (h)
    """,
    "dedup_minhash_lsh": f"""
        WITH {DOC_SHINGLES},
        sig AS MATERIALIZED (
            SELECT doc_id, {_SIG_COLS}
            FROM sh GROUP BY doc_id
        ),
        banded AS MATERIALIZED ({_BAND_SELECTS}),
        cand AS MATERIALIZED (
            SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
            FROM banded l JOIN banded r ON l.band = r.band AND l.bh = r.bh
            WHERE l.doc_id < r.doc_id
        ),
        dsets AS MATERIALIZED (
            SELECT doc_id, list_distinct(list(s)) AS g, count(DISTINCT s) AS n
            FROM sh GROUP BY doc_id
        ),
        ov AS MATERIALIZED (
            SELECT c.a, c.b, sa.n AS na, sb.n AS nb,
                   len(list_intersect(sa.g, sb.g)) AS o
            FROM cand c JOIN dsets sa ON sa.doc_id = c.a JOIN dsets sb ON sb.doc_id = c.b
        )
        SELECT a, b, round(o * 1.0 / (na + nb - o), 6) AS jaccard
        FROM ov WHERE round(o * 1.0 / (na + nb - o), 6) >= 0.7
    """,
    "dedup_simhash": f"""
        WITH toks AS MATERIALIZED (
            SELECT doc_id, unnest(list_distinct({TOKS})) AS t FROM documents
        ),
        th AS MATERIALIZED (SELECT doc_id, {H60.format(x="t")} AS h FROM toks),
        bitsums AS MATERIALIZED (
            SELECT doc_id, {_SIMHASH_BITSUMS}
            FROM th GROUP BY doc_id
        ),
        sig AS MATERIALIZED (
            SELECT doc_id, {_SIMHASH_RECOMBINE} AS simhash FROM bitsums
        ),
        banded AS MATERIALIZED (
            SELECT doc_id, simhash, b AS band, (simhash >> (b * 10)) & 1023 AS bh
            FROM sig, unnest([0, 1, 2, 3, 4, 5]) AS t(b)
        )
        SELECT a, b, hamming FROM (
            SELECT DISTINCT l.doc_id AS a, r.doc_id AS b,
                   bit_count(xor(l.simhash, r.simhash)) AS hamming
            FROM banded l JOIN banded r ON l.band = r.band AND l.bh = r.bh
            WHERE l.doc_id < r.doc_id)
        WHERE hamming <= 3
    """,
    "dedup_ngram_jaccard": f"""
        WITH sets AS MATERIALIZED (
            SELECT doc_id AS id, lang AS blk,
                   list_distinct([substr(t, i, 4)
                                  for i in generate_series(1, length(t) - 3)]) AS g
            FROM (SELECT doc_id, lang, {NORM_TEXT} AS t FROM documents)
        ),
        sized AS MATERIALIZED (SELECT id, blk, g, len(g) AS n FROM sets),
        ex AS MATERIALIZED (SELECT id, blk, n, unnest(g) AS s FROM sized),
        gdf AS MATERIALIZED (SELECT blk, s, count(*) AS gdf FROM ex GROUP BY blk, s),
        pre AS MATERIALIZED (
            SELECT id, blk, s FROM (
                SELECT ex.*, row_number() OVER (PARTITION BY id ORDER BY gdf.gdf, ex.s) AS rk
                FROM ex JOIN gdf USING (blk, s))
            WHERE rk <= floor(n / 5) + 1
        ),
        cand AS MATERIALIZED (
            SELECT DISTINCT a.id AS a, b.id AS b
            FROM pre a JOIN pre b ON a.blk = b.blk AND a.s = b.s AND a.id < b.id
        ),
        ov AS MATERIALIZED (
            SELECT c.a, c.b, sa.n AS na, sb.n AS nb,
                   len(list_intersect(sa.g, sb.g)) AS o
            FROM cand c JOIN sized sa ON sa.id = c.a JOIN sized sb ON sb.id = c.b
        )
        SELECT a, b, round(o * 1.0 / (na + nb - o), 6) AS jaccard
        FROM ov WHERE round(o * 1.0 / (na + nb - o), 6) >= 0.8
    """,
    "dedup_embedding_cosine": f"""
        WITH e AS MATERIALIZED (
            SELECT vec_id, label AS blk, embedding::DOUBLE[] AS v FROM embeddings
        ),
        sz AS MATERIALIZED (SELECT blk, count(*) AS bn FROM e GROUP BY blk),
        eb AS MATERIALIZED (
            SELECT vec_id, blk, v, {_lsh_bucket_gated_sql(12)} AS sub
            FROM (SELECT vec_id, blk, v, {_COSINE_DEPTH} AS depth
                  FROM e JOIN sz USING (blk))
        )
        SELECT a.vec_id AS a, b.vec_id AS b,
               round(list_cosine_similarity(a.v, b.v), 6) AS cosine
        FROM eb a JOIN eb b ON a.blk = b.blk AND a.sub = b.sub AND a.vec_id < b.vec_id
        WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.4
    """,
    "ann_cosine_topk": """
        WITH q AS MATERIALIZED (
            SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
            FROM embeddings WHERE vec_id % 100 = 0
        ),
        c AS MATERIALIZED (SELECT vec_id AS n_id, embedding::DOUBLE[] AS nv FROM embeddings),
        s AS MATERIALIZED (
            SELECT q_id, n_id, round(list_cosine_similarity(qv, nv), 6) AS cosine
            FROM c CROSS JOIN q WHERE q_id <> n_id
        )
        SELECT q_id, n_id, cosine, rank FROM (
            SELECT *, row_number() OVER (PARTITION BY q_id
                ORDER BY cosine DESC, n_id ASC) AS rank FROM s)
        WHERE rank <= 5
    """,
    "ann_lsh_topk": f"""
        WITH e AS MATERIALIZED (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ),
        bucketed AS MATERIALIZED (
            SELECT vec_id, v, {_LSH_BUCKET} AS bucket FROM e
        ),
        q AS MATERIALIZED (
            SELECT vec_id AS q_id, v AS qv, bucket FROM bucketed WHERE vec_id % 100 = 0
        ),
        -- multi-probe radius 1 (similarity.py::probe_buckets): own bucket
        -- plus each one-bit flip; XOR spelled b + 2^p - 2*(b & 2^p) so the
        -- expression matches the Spark side bit-for-bit
        qp AS MATERIALIZED (
            SELECT q_id, qv, bucket FROM q
            UNION ALL
            SELECT q_id, qv,
                   bucket + (1 << p) - 2 * (bucket & (1 << p)) AS bucket
            FROM q, generate_series(0, {N_PLANES - 1}) AS t(p)
        ),
        s AS MATERIALIZED (
            SELECT q_id, c.vec_id AS n_id,
                   round(list_cosine_similarity(qv, c.v), 6) AS cosine
            FROM bucketed c JOIN qp USING (bucket) WHERE q_id <> c.vec_id
        )
        SELECT q_id, n_id, cosine, rank FROM (
            SELECT *, row_number() OVER (PARTITION BY q_id
                ORDER BY cosine DESC, n_id ASC) AS rank FROM s)
        WHERE rank <= 5
    """,
    # lang-ID + quality + token counts + fingerprints in one scan (mirrors
    # operators/text.py::text_profile; per-family semantics unchanged from
    # the r01/r02 per-operator oracles)
    "text_analysis": f"""
        WITH tb AS MATERIALIZED (
            SELECT doc_id, text, {NORM_TEXT} AS t, {TOKS} AS toks FROM documents
        ),
        m AS MATERIALIZED (
            SELECT doc_id,
                   {_LANG_SCORES},
                   length(t) AS n_chars,
                   len(toks) AS n_toks,
                   length(regexp_replace(t, '[A-Za-z0-9\\s]+', '', 'g')) AS n_punct,
                   len(list_filter(toks, x -> list_contains({_ALL_STOP!r}, x))) AS n_stop,
                   len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')) AS bpe_tokens,
                   length(text) AS n_chars_raw,
                   md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fingerprint,
                   list_reduce(
                       list_prepend(CAST(0 AS BIGINT),
                           [CAST(ascii(substr(t, i, 1)) AS BIGINT)
                            for i in generate_series(1, length(t))]),
                       (acc, c) -> (acc * 31 + c) % 1000000007) AS rolling_hash
            FROM tb
        )
        SELECT doc_id, score_de, score_en, score_es, score_fr,
               CASE WHEN greatest(score_de, score_en, score_es, score_fr) = 0 THEN 'unknown'
                    WHEN score_de = greatest(score_de, score_en, score_es, score_fr) THEN 'de'
                    WHEN score_en = greatest(score_de, score_en, score_es, score_fr) THEN 'en'
                    WHEN score_es = greatest(score_de, score_en, score_es, score_fr) THEN 'es'
                    ELSE 'fr' END AS pred_lang,
               n_chars AS n_chars_norm,
               n_toks AS n_tokens,
               round(CASE WHEN n_chars = 0 THEN 1.0 ELSE n_punct * 1.0 / n_chars END, 6) AS punct_ratio,
               round(CASE WHEN n_toks = 0 THEN 0.0 ELSE n_stop * 1.0 / n_toks END, 6) AS stopword_ratio,
               round(CASE WHEN n_toks = 0 THEN 0.0
                          ELSE (n_chars - (n_toks - 1)) * 1.0 / n_toks END, 6) AS mean_token_len,
               round(
                 (CASE WHEN n_chars >= 20 AND n_chars <= 20000 THEN 1 ELSE 0 END) * 0.4
               + (CASE WHEN (CASE WHEN n_chars = 0 THEN 1.0 ELSE n_punct * 1.0 / n_chars END) <= 0.2
                       THEN 1 ELSE 0 END) * 0.2
               + (CASE WHEN (CASE WHEN n_toks = 0 THEN 0.0 ELSE n_stop * 1.0 / n_toks END) >= 0.01
                       THEN 1 ELSE 0 END) * 0.2
               + (CASE WHEN (CASE WHEN n_toks = 0 THEN 0.0
                                  ELSE (n_chars - (n_toks - 1)) * 1.0 / n_toks END) BETWEEN 2.0 AND 12.0
                       THEN 1 ELSE 0 END) * 0.2, 6) AS quality,
               n_toks AS ws_tokens, bpe_tokens, n_chars_raw, fingerprint, rolling_hash
        FROM m
    """,
    "multimodal_binary_features": """
        SELECT doc_id,
               octet_length(encode(text)) AS n_bytes,
               md5(text) AS digest,
               CASE WHEN starts_with(substr(lower(hex(encode(text))), 1, 8), '89504e47') THEN 'png'
                    WHEN starts_with(substr(lower(hex(encode(text))), 1, 6), 'ffd8ff') THEN 'jpeg'
                    WHEN starts_with(substr(lower(hex(encode(text))), 1, 6), '494433') THEN 'mp3'
                    WHEN starts_with(substr(lower(hex(encode(text))), 1, 8), '52494646') THEN 'riff'
                    ELSE 'unknown' END AS magic
        FROM documents
    """,
    # multimodal_decode_stub: mapInPandas Python stage → rows-only check
    "events_pivot": """
        SELECT user_id,
               count(*) FILTER (WHERE event_type = 'click')    AS n_click,
               count(*) FILTER (WHERE event_type = 'error')    AS n_error,
               count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
               count(*) FILTER (WHERE event_type = 'signup')   AS n_signup,
               count(*) FILTER (WHERE event_type = 'view')     AS n_view,
               round(sum(value), 4) AS total_value,
               count(*) AS n_events
        FROM events GROUP BY user_id
    """,
    "events_sessionize": """
        WITH w AS MATERIALIZED (
            SELECT user_id, event_id, ts, value,
                   CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                             OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800
                        THEN 1 ELSE 0 END AS new_sess
            FROM events
        ),
        s AS MATERIALIZED (
            SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
            FROM w
        )
        SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx, count(*) AS n_events,
               round(sum(value), 4) AS session_value,
               strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start
        FROM s GROUP BY user_id, session_idx
    """,
    "events_hourly_windows": """
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
               event_type, count(*) AS n, round(avg(value), 4) AS avg_value
        FROM events GROUP BY 1, 2
    """,
    "events_json_extract": """
        SELECT event_id,
               CAST(regexp_extract(props, '"k":\\s*(-?\\d+)', 1) AS INTEGER) AS k
        FROM events
        WHERE regexp_extract(props, '"k":\\s*(-?\\d+)', 1) <> ''
    """,
    "connected_components": """
        WITH RECURSIVE raw_edges AS (
            SELECT 'S' || CAST(s_suppkey AS VARCHAR)  AS src,
                   'N' || CAST(s_nationkey AS VARCHAR) AS dst
            FROM supplier
            UNION ALL
            SELECT 'N' || CAST(n_nationkey AS VARCHAR),
                   'R' || CAST(n_regionkey AS VARCHAR)
            FROM nation
        ),
        undirected AS MATERIALIZED (
            SELECT src, dst FROM raw_edges
            UNION
            SELECT dst, src FROM raw_edges
        ),
        walk(node, reach) AS (
            SELECT src, src FROM undirected
            UNION
            SELECT w.node, u.dst FROM walk w JOIN undirected u ON u.src = w.reach
        )
        SELECT node, min(reach) AS component FROM walk GROUP BY node
    """,
    "triples_emit": FEATURE_CTES
    + """,
    top1 AS MATERIALIZED (
        SELECT row, qnode, class FROM (
            SELECT f11.row, f11.qnode, f11.class, f11.retrieval_score,
                   row_number() OVER (PARTITION BY f11.row
                       ORDER BY f11.retrieval_score DESC, f11.qnode ASC) AS rank
            FROM f11)
        WHERE rank = 1 AND retrieval_score > 0.95
    ),
    trip AS (
        SELECT qnode AS subj, 'P:mentionedIn' AS pred,
               'part:' || CAST(row AS VARCHAR) || '@' AS obj
        FROM top1
        UNION ALL
        SELECT DISTINCT qnode, 'P31', class FROM top1
    )
    SELECT subj, pred, obj,
           CAST(CAST(('0x' || substr(md5(subj), 1, 15)) AS BIGINT) % 16 AS INTEGER) AS part
    FROM trip
    """,
}
