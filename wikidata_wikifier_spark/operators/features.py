"""Feature operators over the candidate table (SURVEY.md §2.4).

The reference computes its features in one `tl` chain
(wikifier/wikifier.py:148-210): string similarities, singleton,
high-confidence pick, context match with its relevant-properties second
pass, pgr_rts, kth-percentile anchoring, semantic TF-IDF (class/property),
pseudo-GT, embedding centroid scoring. pipeline.feature_chain composes these
operators in that order, once, for both the shipping label-level pipeline
and the row-level oracle board.

Execution notes for scale:
- Everything except monge-elkan/jaro-winkler is a NATIVE column
  expression or window/groupBy aggregate (whole-stage codegen).
- The two string-sim UDFs are Arrow pandas UDFs, batch-vectorized.
- Window functions partition by the mention key (row) or by the target
  column — bounded partitions, no global sort.
- TF-IDF is two tiny aggregates (anchor class counts, global document
  frequencies) broadcast-joined back to the candidate table: at 100 TB the
  aggregates are KBs (one row per class), the candidate table never
  re-shuffles.
- weight_col (label-level mode): each row stands for `weight` mentions,
  so every count becomes an exact integer sum of weights and the result
  equals the row-level one (tests/test_label_level.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.strings import (
    jaro_winkler_udf,
    levenshtein_similarity,
    monge_elkan_max_over_aliases_udf,
    symmetric_monge_elkan_udf,
)
from ..plans.skew import size_aware_broadcast

CONTEXT_STRING_SIM_MIN = 0.85   # wikifier.py:161 --similarity-string-threshold
CONTEXT_QUANTITY_MIN = 0.9      # wikifier.py:161 --similarity-quantity-threshold
KTH_PERCENTILE = 0.75           # wikifier.py:163 --k-percentile
HC_SIM_MIN = 0.9                # pick-hc-candidates near-exact rule [ext]
STRING_SIM_FLOOR = 0.5          # wikifier.py:149-154 --threshold 0.5


def _floor_sim(col: Column) -> Column:
    """`--threshold 0.5` (wikifier.py:149-154): similarities below the
    floor are ignored (reported as 0)."""
    return F.when(col >= STRING_SIM_FLOOR, col).otherwise(F.lit(0.0))


def string_similarity_features(
    cands: DataFrame,
    alias_dim: DataFrame,
    dim_rows: int | None = None,
) -> DataFrame:
    """monge_elkan / monge_elkan_aliases / jaro_winkler / levenshtein
    (wikifier.py:149-154), all floored at 0.5 per `--threshold`.

    The UDF-backed similarities depend ONLY on (label_clean, qnode): they
    are computed on the DISTINCT pair table — bounded by vocabulary ×
    candidates-per-label, i.e. thousands of rows where the candidate table
    has millions — then joined back. This removes the full-table Arrow
    exchange entirely (measured: the former #1 cost of the pipeline) and
    turns the Python stage into a constant-size side computation at any
    corpus scale. levenshtein stays a native JVM expression on the main
    table (whole-stage codegen, free).

    alias_dim: the (qnode, aliases) dimension, so the aliases array is
    never carried on the candidate table.
    """
    key = ["label_clean", "qnode"]
    pairs = (
        cands.select("label_clean", "qnode", "kg_label")
        .distinct()
        .join(size_aware_broadcast(alias_dim, dim_rows), "qnode")
    ).select(
        *key,
        _floor_sim(
            F.round(symmetric_monge_elkan_udf(F.col("label_clean"), F.col("kg_label")), 6)
        ).alias("monge_elkan"),
        _floor_sim(
            F.round(
                monge_elkan_max_over_aliases_udf(F.col("label_clean"), F.col("aliases")), 6
            )
        ).alias("monge_elkan_aliases"),
        _floor_sim(
            F.round(jaro_winkler_udf(F.col("label_clean"), F.col("kg_label")), 6)
        ).alias("jaro_winkler"),
    )
    return cands.join(size_aware_broadcast(pairs, dim_rows), key, "inner").withColumn(
        "levenshtein",
        _floor_sim(
            F.round(levenshtein_similarity(F.col("label_clean"), F.col("kg_label")), 6)
        ),
    )


def singleton_feature(cands: DataFrame, cell_cols: list[str] | None = None) -> DataFrame:
    """create-singleton-feature (wikifier.py:155): 1 iff the cell has
    exactly one candidate."""
    cell_cols = cell_cols or ["row"]
    w = Window.partitionBy(*cell_cols)
    return cands.withColumn(
        "singleton", F.when(F.count("*").over(w) == 1, 1).otherwise(0)
    )


def pick_hc_candidates(cands: DataFrame) -> DataFrame:
    """pick-hc-candidates (wikifier.py:156-158): trust candidates whose
    best string similarity is near-exact; ignore_candidate = the rest."""
    best = F.greatest("monge_elkan", "monge_elkan_aliases", "jaro_winkler", "levenshtein")
    return cands.withColumn("best_str_sim", F.round(best, 6)).withColumn(
        "ignore_candidate", (best < HC_SIM_MIN).cast("int")
    )


def context_match_typed(
    cands: DataFrame,
    properties: list[tuple[str, str]],
    context_col: str = "context",
    out: str = "context_score_typed",
) -> DataFrame:
    """Generic context-match (wikifier.py:159-162) over a DECLARED property
    array instead of the fixed brand/class/size triple: each (column_name,
    kind) pair consumes one pipe-separated slot of the context string and
    compares it against the candidate column by kind —

    - string:   levenshtein similarity ≥ 0.85 (case-folded)
    - quantity: relative closeness min/max ≥ 0.9
    - date:     calendar-date equality after parsing (the reference parses
                date-like context cells, e.g. cricketers.csv `dob`)

    Emits <name>_match / <name>_score per property plus the mean score.
    Pure native expressions (codegen) — kind dispatch happens at plan
    build time, not per row."""
    ctx = F.split(F.col(context_col), r"\|")
    out_df = cands
    score_cols: list[Column] = []
    for i, (name, kind) in enumerate(properties):
        c = ctx.getItem(i)
        v = F.col(name)
        if kind == "string":
            sim = levenshtein_similarity(F.lower(c), F.lower(v))
            match = (sim >= CONTEXT_STRING_SIM_MIN).cast("int")
            score = match * sim
        elif kind == "quantity":
            cq, vq = c.cast("double"), v.cast("double")
            closeness = F.when(
                F.greatest(cq, vq) == 0, F.lit(1.0)
            ).otherwise(F.least(cq, vq) / F.greatest(cq, vq))
            match = (closeness >= CONTEXT_QUANTITY_MIN).cast("int")
            score = match * closeness
        elif kind == "date":
            match = (F.to_date(c) == F.to_date(v)).cast("int")
            score = match.cast("double")
        else:
            raise ValueError(f"unknown property kind: {kind}")
        out_df = out_df.withColumn(f"{name}_match", F.coalesce(match, F.lit(0)))
        out_df = out_df.withColumn(
            f"{name}_score", F.round(F.coalesce(score, F.lit(0.0)), 6)
        )
        score_cols.append(F.col(f"{name}_score"))
    total = score_cols[0]
    for s in score_cols[1:]:
        total = total + s
    return out_df.withColumn(out, F.round(total / len(properties), 6))


def kth_percentile(
    cands: DataFrame,
    score_col: str = "context_score",
    out: str = "kth_percenter",
    ignore_col: str = "ignore_candidate",
    column_col: str | None = None,
    minimum_cells: int = 10,
    cell_col: str = "row",
    weight_col: str | None = None,
) -> DataFrame:
    """kth-percentile (wikifier.py:163-164): flag candidates in the top
    (1 - 0.75) percent_rank band of score_col, excluding ignored ones.

    Reference semantics: the percentile is computed PER TARGET COLUMN
    (`-c column`) and a column is skipped entirely when it has fewer than
    `--minimum-cells 10` input cells (too few cells to make the top band
    meaningful — no anchors are emitted for it). Pass column_col to group
    by the table's column id; None keeps the single-column behavior
    (identical result, since a lone column is one group).

    percent_rank is computed over the DISTINCT-SCORE distribution table
    (scores are rounded, so it has at most a few thousand rows per
    column) and broadcast-joined back: pr = (#rows with smaller score) /
    (n - 1) — bit-identical to the window definition, but the candidate
    table never collapses into one sort partition. A naive
    percent_rank().over(partitionBy(ignore_flag)) serializes the whole
    table into ≤2 tasks — the measured scaling bottleneck."""
    group = [column_col] if column_col else []
    # weight_col: label-level mode — each row stands for `weight` mentions
    # (exact integer multiplicities), so every count becomes sum(weight)
    # and the result is identical to running row-level (tests/test_label_level.py)
    w_expr = F.col(weight_col) if weight_col else F.lit(1)
    cells = (
        cands.select(*group, cell_col, w_expr.alias("_w"))
        .dropDuplicates(group + [cell_col])
        .groupBy(*group)
        .agg(F.sum("_w").alias("n_cells"))
    )
    dist = cands.groupBy(*group, ignore_col, score_col).agg(
        F.sum(w_expr).alias("c")
    )
    w_cum = Window.partitionBy(*group, ignore_col).orderBy(score_col)
    w_ign = Window.partitionBy(*group, ignore_col)
    dist = dist.withColumn("below", F.sum("c").over(w_cum) - F.col("c")).withColumn(
        "n", F.sum("c").over(w_ign)
    )
    dist = (
        dist.join(F.broadcast(cells), group) if group else dist.crossJoin(F.broadcast(cells))
    )
    dist = (
        dist.withColumn(
            "pr",
            F.when(F.col("n") == 1, F.lit(0.0)).otherwise(
                F.col("below") / (F.col("n") - 1)
            ),
        )
        .withColumn(
            out,
            F.when(
                (F.col(ignore_col) == 0)
                & (F.col("pr") >= KTH_PERCENTILE)
                & (F.col("n_cells") >= minimum_cells),
                1,
            ).otherwise(0),
        )
        .select(*group, ignore_col, score_col, out)
    )
    return cands.join(F.broadcast(dist), group + [ignore_col, score_col], "left")


def pgr_rts(cands: DataFrame) -> DataFrame:
    """pagerank × retrieval_score product feature (wikifier.py:167-171).

    Computed in scaled-integer space: both inputs are already 6-dp-rounded,
    so their product hits exact decimal half-way points (e.g. 0.8586375)
    where Spark's BigDecimal HALF_UP and a double-based round() disagree by
    1 ulp. floor(x*1e6 + 0.5) → BIGINT on both engines makes the arithmetic
    identical integer math; the final /1e12 is one correctly-rounded IEEE
    division of an exactly-representable integer (< 2^53), so the double is
    bit-identical everywhere. pgr_rts_micro2 (the exact integer product) is
    kept for downstream thresholds that must be engine-stable.
    """
    m1 = F.floor(F.col("pagerank") * 1e6 + F.lit(0.5)).cast("long")
    m2 = F.floor(F.col("retrieval_score") * 1e6 + F.lit(0.5)).cast("long")
    return cands.withColumn("pgr_rts_micro2", m1 * m2).withColumn(
        "pgr_rts", F.col("pgr_rts_micro2") / F.lit(1.0e12)
    )


def semantic_tfidf_map_multi(
    cands: DataFrame,
    dims: list[tuple[DataFrame, str]],
    anchor_col: str,
    weight_col: str | None = None,
    dim_rows: int | None = None,
) -> DataFrame:
    """pgt-semantic-tf-idf / compute-tf-idf over COUNT-MAP features
    (wikifier.py:165-178,196-205 with --feature-name class_count /
    property_count): the reference's aux fields are maps of class/property
    → count per qnode, so a candidate carries a SET of feature keys and
    its score sums the tf-idf weight of every key it has.

    dims: list of (key_dim(qnode, key), out_col); each key_dim is distinct
    per (qnode, key). Per family:

    tf(k)  = Σ weight over anchor candidates whose qnode carries k
    df(k)  = # distinct candidate qnodes carrying k
    idf(k) = ln(N / df(k)),   N = # distinct candidate qnodes
    s(q)   = Σ_{k ∈ keys(q)} tf(k)·idf(k)
    score  = s(q) / max_q s(q)  ∈ [0,1]   (0 when nothing anchors)

    The reference computes the class and property families back-to-back
    against the same anchor set, so the dims are tagged and unioned: the
    distinct-qnode scan, the anchor mass aggregate, every per-key
    aggregate and the broadcast join-back run ONCE for all families. The
    per-family math is grouped by the family tag, so it equals independent
    calls (the per-family oracles pin this).

    Engine-parity note: per-key weights are snapped to exact integer
    micros (floor(tf·idf·1e6 + 0.5)) BEFORE the per-qnode sum, so the sum
    is order-free integer arithmetic and the final score is one IEEE
    division of exactly-representable integers — bit-stable across Spark,
    DuckDB, and partition orders. Map-count semantics: tf-idf uses key
    PRESENCE; the counts order classes for reconcile typing
    (reconcile_response), mirroring how the reference uses
    top5_class_count for its type payload (wikifier_service.py:116-142).

    Plan shape at 100 TB: every aggregate is key- or vocabulary-scale
    (distinct qnodes × map keys), broadcast back — the candidate table
    never reshuffles.
    """
    tagged = None
    for i, (kd, _out) in enumerate(dims):
        t = kd.select(F.lit(i).alias("fam"), "qnode", "key")
        tagged = t if tagged is None else tagged.unionByName(t)
    w_expr = F.col(weight_col) if weight_col else F.lit(1)
    qn = cands.select("qnode").distinct()
    ck = qn.join(size_aware_broadcast(tagged, dim_rows), "qnode")
    n_q = qn.agg(F.count("*").alias("n_qnodes"))
    aw = (
        cands.where(F.col(anchor_col) == 1)
        .groupBy("qnode")
        .agg(F.sum(w_expr).alias("_aw"))
    )
    # r06: df(k) and tf(k) in ONE aggregate — aw (≤ one row per qnode)
    # rides a left join onto ck, so the former separate df groupBy of ck
    # and the tf join+groupBy collapse into a single (fam, key) exchange.
    # tf = sum(_aw) is null for keys with no anchored qnode; coalesce(tf,
    # 0) makes their _micro floor(0.5) = 0, exactly the contribution the
    # old inner-join shape gave them via the s_q left-join + fill(0).
    kstats = (
        ck.join(size_aware_broadcast(aw, dim_rows), "qnode", "left")
        .groupBy("fam", "key")
        .agg(F.countDistinct("qnode").alias("df"), F.sum("_aw").alias("tf"))
    )
    micro = (
        kstats.crossJoin(F.broadcast(n_q))
        .select(
            "fam",
            "key",
            F.floor(
                F.coalesce(F.col("tf"), F.lit(0))
                * F.log(F.col("n_qnodes") / F.col("df")) * 1e6 + F.lit(0.5)
            ).cast("long").alias("_micro"),
        )
    )
    # r06: per-qnode sums PIVOTED in one groupBy (sum filtered by fam ≡
    # pivot of the per-(fam, qnode) sums — exact integer micros), and the
    # per-fam max as a ONE-ROW aggregate broadcast back — replaces the
    # former s_q exchange + max_s exchange + pivot exchange. Null corners
    # preserved: a qnode with no fam-i keys sums to null (old pivot: max
    # of an empty when-set), and an all-empty fam leaves _maxs{i} null so
    # the division stays null for every qnode.
    sq = ck.join(F.broadcast(micro), ["fam", "key"], "left").na.fill({"_micro": 0})
    s_cols = [
        F.sum(F.when(F.col("fam") == i, F.col("_micro"))).alias(f"_s{i}")
        for i in range(len(dims))
    ]
    per_q = sq.groupBy("qnode").agg(*s_cols)
    maxs = per_q.agg(
        *[F.max(f"_s{i}").alias(f"_maxs{i}") for i in range(len(dims))]
    )
    out_cols = []
    for i, (_kd, out) in enumerate(dims):
        s_i, m_i = F.col(f"_s{i}"), F.col(f"_maxs{i}")
        out_cols.append(
            F.when(s_i.isNull(), F.lit(None).cast("double"))
            .when(m_i == 0, F.lit(0.0))
            .otherwise(F.round(s_i / m_i, 6))
            .alias(out)
        )
    scores = per_q.crossJoin(F.broadcast(maxs)).select("qnode", *out_cols)
    joined = cands.join(size_aware_broadcast(scores, dim_rows), "qnode", "left")
    return joined.na.fill({out: 0.0 for _kd, out in dims})


_NUM_RE = r"^-?[0-9]+(\.[0-9]+)?$"
_DATE_RE = r"^[0-9]{4}-[0-9]{2}-[0-9]{2}$"


def context_match_array(
    cands: DataFrame,
    context_arr_col: str = "context_arr",
    context_col: str = "context",
    out: str = "context_score_array",
    keep_micros: str | None = None,
) -> DataFrame:
    """context-match over the per-entity TYPED PROPERTY ARRAY
    (wikifier.py:159-162 with the context.jl aux file; SURVEY §1.2
    array<struct<property,value,type>>): each of the candidate's context
    entries is compared against EVERY pipe-separated token of the
    mention's row context, taking the best per-property score —

    - string:   levenshtein similarity, matched at ≥ 0.85
    - quantity: relative closeness min/max ≥ 0.9 (non-numeric tokens 0)
    - date:     calendar equality after parsing (non-date tokens 0)

    Unlike context_match_typed this needs NO pre-pivoted property columns:
    the property list rides the index row as an array, and the whole
    comparison is higher-order array expressions (transform/array_max/
    aggregate) — zero explodes, zero shuffles, whole-stage codegen.
    Per-property scores are snapped to integer micros before the mean so
    the fold is order-free and engine-exact (see semantic_tfidf_map_multi).
    Casts are regex-guarded: ANSI mode is on, and a context token like
    'economy' must score 0 against a quantity property, not throw.

    keep_micros: column name under which to RETAIN the per-entry score
    array (aligned index-for-index with the coalesced context_arr) — the
    relevant-properties second pass (context_score_relevant) reuses the
    pass-1 entry scores instead of recomputing the token comparison.
    """
    toks = F.split(F.col(context_col), r"\|")

    def entry_score(s: Column) -> Column:
        v = s["value"]

        def per_tok(t: Column) -> Column:
            # levenshtein_similarity("", "") = 1.0, and a missing mention
            # context coalesced to "" splits into one empty token — an
            # empty-valued context entry must not score a perfect match
            # against every context-less mention (ADVICE r04), so the
            # string branch requires BOTH sides non-empty
            str_sim = levenshtein_similarity(F.lower(t), F.lower(v))
            str_score = F.when(
                (F.length(t) > 0)
                & (F.length(v) > 0)
                & (str_sim >= CONTEXT_STRING_SIM_MIN),
                str_sim,
            ).otherwise(F.lit(0.0))
            tq = F.when(t.rlike(_NUM_RE), t).cast("double")
            vq = F.when(v.rlike(_NUM_RE), v).cast("double")
            # both sides must parse: Spark's greatest() skips NULLs (a
            # non-numeric token would silently score 1.0) while DuckDB's
            # propagates them — the explicit guard makes both engines agree
            closeness = F.when(
                tq.isNotNull() & vq.isNotNull(),
                F.when(F.greatest(tq, vq) == 0, F.lit(1.0)).otherwise(
                    F.least(tq, vq) / F.greatest(tq, vq)
                ),
            )
            q_score = F.coalesce(
                F.when(closeness >= CONTEXT_QUANTITY_MIN, closeness), F.lit(0.0)
            )
            # try_to_date: the regex admits non-calendar strings like
            # '2024-13-40', which a plain to_date turns into a query-killing
            # error under ANSI mode — unparseable tokens must score 0
            # (oracle side uses TRY_CAST for the same reason)
            d_score = F.coalesce(
                F.when(
                    F.try_to_date(F.when(t.rlike(_DATE_RE), t))
                    == F.try_to_date(F.when(v.rlike(_DATE_RE), v)),
                    F.lit(1.0),
                ),
                F.lit(0.0),
            )
            return F.coalesce(
                F.when(s["vtype"] == "string", str_score)
                .when(s["vtype"] == "quantity", q_score)
                .otherwise(d_score),
                F.lit(0.0),
            )

        return F.array_max(F.transform(toks, per_tok))

    # NULL context_arr (a left-joined index row with no harvested context)
    # must behave like an empty property list: F.size(NULL) is -1, which
    # would make n_ctx_props negative and divide by a negative count
    ctx_arr = F.coalesce(
        F.col(context_arr_col),
        F.array().cast("array<struct<property:string,value:string,vtype:string>>"),
    )
    score_micros = F.transform(
        ctx_arr,
        lambda s: F.floor(
            F.coalesce(entry_score(s), F.lit(0.0)) * 1e6 + F.lit(0.5)
        ).cast("long"),
    )
    n_props = F.size(ctx_arr)
    out_df = cands.withColumn("_ctx_micros", score_micros)
    matched = F.size(F.filter(F.col("_ctx_micros"), lambda x: x > 0))
    total = F.aggregate(
        F.col("_ctx_micros"), F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    res = (
        out_df.withColumn("n_ctx_props", n_props)
        .withColumn("n_ctx_matched", matched)
        .withColumn(
            out,
            F.when(n_props == 0, F.lit(0.0)).otherwise(
                F.round(total / (n_props * F.lit(1e6)), 6)
            ),
        )
    )
    if keep_micros:
        return res.withColumnRenamed("_ctx_micros", keep_micros)
    return res.drop("_ctx_micros")


def context_score_relevant(
    cands: DataFrame,
    hc_col: str = "ignore_candidate",
    micros_col: str = "_ctx_micros",
    context_arr_col: str = "context_arr",
    weight_col: str | None = None,
    out: str = "context_score_3",
) -> DataFrame:
    """context-match --use-relevant-properties (wikifier.py:187-189): the
    second context pass restricted to the RELEVANT properties — those that
    matched for at least half of the high-confidence candidates in pass 1
    (--save-relevant-properties writes exactly these stats; the SQL twin
    is the rel/ctx3 block of oracles.FEATURE_CTES).

    Works at row or LABEL level: pass-1 per-entry scores (micros_col, from
    context_match_array(keep_micros=...)) are exploded per property for
    the HC rows only (hc_col == 0 — ignore_candidate semantics), rates are
    exact-integer weighted by the label's mention multiplicity
    (2·Σw·matched ≥ Σw ⟺ weighted rate ≥ 0.5, no float mean), and the
    relevant-property set — property-vocabulary-sized, i.e. tiny — is
    broadcast back as ONE array. The restricted score is then a pure array
    fold per row: mean of pass-1 entry micros over the candidate's
    relevant-property entries, 0 when it has none."""
    ctx_arr = F.coalesce(
        F.col(context_arr_col),
        F.array().cast("array<struct<property:string,value:string,vtype:string>>"),
    )
    prop_micro = F.zip_with(
        ctx_arr,
        F.col(micros_col),
        lambda e, m: F.struct(e["property"].alias("property"), m.alias("micro")),
    )
    w = F.col(weight_col) if weight_col else F.lit(1)
    hc_pairs = cands.where(F.col(hc_col) == 0).select(
        F.explode(prop_micro).alias("pm"), w.cast("long").alias("_w")
    )
    rates = hc_pairs.groupBy(F.col("pm.property").alias("property")).agg(
        F.sum(F.when(F.col("pm.micro") > 0, F.col("_w")).otherwise(0)).alias("_m"),
        F.sum("_w").alias("_n"),
    )
    rel = rates.where(2 * F.col("_m") >= F.col("_n")).select("property")
    # ONE row: the sorted relevant-property set (collect_set over an empty
    # input still yields a row with an empty array via the global agg)
    rel_arr = rel.agg(F.array_sort(F.collect_set("property")).alias("_rel_props"))
    kept = F.filter(
        prop_micro,
        lambda pm: F.array_contains(F.col("_rel_props"), pm["property"]),
    )
    n_rel = F.size(kept)
    total = F.aggregate(
        F.transform(kept, lambda pm: pm["micro"]),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        cands.crossJoin(F.broadcast(rel_arr))
        .withColumn(
            out,
            # <= guards size(NULL) = -1 (an empty/absent relevant set must
            # score 0, never propagate a NULL fold)
            F.when(n_rel <= 0, F.lit(0.0)).otherwise(
                F.round(total / (n_rel * F.lit(1e6)), 6)
            ),
        )
        .drop("_rel_props")
    )


def embedding_centroid_score(
    cands: DataFrame,
    emb_dim: DataFrame,
    anchor_col: str = "pseudo_gt",
    emb_col: str = "embedding",
    out: str = "pgt_centroid_score",
    weight_col: str | None = None,
    dim_rows: int | None = None,
) -> DataFrame:
    """score-using-embedding --column-vector-strategy centroid
    (wikifier.py:191-195), LOF-free variant: centroid of anchor-candidate
    embeddings, then cosine(candidate, centroid). The anchor centroid keeps
    row multiplicity via per-qnode anchor counts (one tiny partial-agg
    shuffle), scored by centroid_cosine_scores. The centroid-of-lof variant
    (queries.q_centroid_lof) feeds the same tail the LOF survivors of
    lof_surviving_anchors with weight 1.

    emb_dim: the (qnode, embedding) dimension, so the embedding array is
    never carried on the candidate table."""
    w_expr = F.col(weight_col) if weight_col else F.lit(1)
    anchors = (
        cands.where(F.col(anchor_col) == 1)
        .groupBy("qnode")
        .agg(F.sum(w_expr).alias("w"))
    )
    return centroid_cosine_scores(
        cands, anchors, emb_dim, out, emb_col=emb_col, dim_rows=dim_rows
    )


def centroid_cosine_scores(
    cands: DataFrame,
    anchors: DataFrame,
    emb_dim: DataFrame,
    out: str,
    emb_col: str = "embedding",
    dim_rows: int | None = None,
) -> DataFrame:
    """cosine(candidate, centroid) joined back onto cands, where the
    centroid is the w-weighted mean of the embeddings of `anchors`
    (qnode, w) — pure relational algebra (posexplode + weighted avg +
    cosine fold), the SQL-expressible tail of both centroid strategies.

    cosine(candidate, centroid) depends ONLY on the qnode, so the explode/
    dot-product runs over the DISTINCT-qnode table (|entities|×dim rows,
    not candidates×dim). Centroid components are rounded to 6 decimals
    before the cosine so the score is reproducible across engines and
    partition orders."""
    a_emb = anchors.select("qnode", "w").join(
        size_aware_broadcast(emb_dim, dim_rows), "qnode"
    )
    centroid = (
        a_emb.select("w", F.posexplode(emb_col).alias("i", "v"))
        .groupBy("i")
        .agg(
            F.round(F.sum(F.col("v") * F.col("w")) / F.sum("w"), 6).alias("c")
        )
    )
    qn = (
        cands.select("qnode")
        .distinct()
        .join(size_aware_broadcast(emb_dim, dim_rows), "qnode")
        .select("qnode", F.posexplode(emb_col).alias("i", "v"))
    )
    scores = (
        qn.join(F.broadcast(centroid), "i")
        .groupBy("qnode")
        .agg(
            F.sum(F.col("v") * F.col("c")).alias("dot"),
            F.sum(F.col("v") * F.col("v")).alias("nv"),
            F.sum(F.col("c") * F.col("c")).alias("nc"),
        )
        .withColumn(
            out,
            F.when(F.col("nv") * F.col("nc") == 0, F.lit(0.0)).otherwise(
                F.round(F.col("dot") / (F.sqrt("nv") * F.sqrt("nc")), 6)
            ),
        )
        .select("qnode", out)
    )
    return cands.join(size_aware_broadcast(scores, dim_rows), "qnode", "left").na.fill(
        {out: 0.0}
    )


LOF_K = 10               # neighbors for LOF (bounded by group size - 1)
LOF_THRESHOLD = 1.5      # points with LOF above this are dropped
LOF_MAX_ANCHORS = 1024   # deterministic cap per group (O(n²) distance matrix)


def _lof_scores(x: "np.ndarray", k: int) -> "np.ndarray":
    """Classic Local Outlier Factor (Breunig et al. 2000) in pure numpy:
    k-distance → reachability distance → local reachability density →
    LOF = mean(lrd of neighbors) / lrd(point). Duplicate points (zero
    distances) are guarded with an epsilon so lrd stays finite."""
    import numpy as np

    n = len(x)
    d = np.sqrt(
        np.maximum(
            ((x[:, None, :] - x[None, :, :]) ** 2).sum(axis=2), 0.0
        )
    )
    np.fill_diagonal(d, np.inf)
    nbr = np.argsort(d, axis=1, kind="stable")[:, :k]
    rows = np.arange(n)[:, None]
    kdist = d[rows, nbr][:, -1]
    reach = np.maximum(d[rows, nbr], kdist[nbr])
    lrd = k / np.maximum(reach.sum(axis=1), 1e-12)
    return lrd[nbr].mean(axis=1) / np.maximum(lrd, 1e-12)


def lof_surviving_anchors(
    cands: DataFrame,
    emb_dim: DataFrame,
    anchor_col: str = "pseudo_gt",
    emb_col: str = "embedding",
    k: int = LOF_K,
    threshold: float = LOF_THRESHOLD,
    max_anchors: int = LOF_MAX_ANCHORS,
    dim_rows: int | None = None,
) -> DataFrame:
    """The LOF-INLIER anchor qnodes — the single non-SQL-expressible step
    of centroid-of-lof, factored out so callers can materialize it to the
    oracle handoff and let DuckDB verify the (pure SQL) centroid + cosine
    tail, centroid_cosine_scores with weight 1, exactly (VERDICT r04 #5).

    Plan: the anchor set is the DISTINCT anchor qnodes' embeddings —
    entity-scale, not candidate-scale — deterministically capped at
    max_anchors (ordered by md5(qnode), stable across partitionings; the
    LOF distance matrix is O(n²)). orderBy+limit compiles to
    TakeOrderedAndProject: each task keeps its partition's top-N and the
    driver merges N-sized heaps — identical selection to a global rank
    WITHOUT funneling the whole anchor set through one task. LOF itself
    runs in one applyInPandas numpy task over ≤ max_anchors rows; groups
    of < 3 points are returned whole (LOF is undefined — plain-centroid
    fallback)."""
    import pandas as pd

    anchors = (
        cands.where(F.col(anchor_col) == 1)
        .select("qnode")
        .distinct()
        .join(size_aware_broadcast(emb_dim, dim_rows), "qnode")
    )
    anchors = (
        anchors.withColumn("_h", F.md5("qnode"))
        .orderBy("_h")
        .limit(max_anchors)
        .drop("_h")
    )

    def survivors(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        x = np.asarray(pdf[emb_col].tolist(), dtype=np.float64)
        keep = np.ones(len(x), dtype=bool)
        if len(x) >= 3:
            lof = _lof_scores(x, min(k, len(x) - 1))
            flagged = lof <= threshold
            if flagged.any():
                keep = flagged
        return pd.DataFrame({"qnode": pdf["qnode"].to_numpy()[keep]})

    return (
        anchors.withColumn("_g", F.lit(1))
        .groupBy("_g")
        .applyInPandas(survivors, "qnode string")
    )


def create_pseudo_gt(
    cands: DataFrame,
    prediction_col: str,
    filter_col: str = "smc_class_score",
    out: str = "pseudo_gt",
    column_col: str | None = None,
    weight_col: str | None = None,
) -> DataFrame:
    """create-pseudo-gt (wikifier.py:184-186): 1 for candidates whose
    prediction ≥ the mean of the prediction, and filter_col > 0. The
    reference thresholds PER TARGET COLUMN
    (`--column-thresholds pseudo_gt_prediction:mean`); pass column_col to
    group the mean by the table's column id — None keeps the
    single-column behavior (identical result for one column).

    The mean is a per-column aggregate broadcast back — never
    avg().over(Window.partitionBy()), which funnels the whole table
    through a single task.

    The prediction column must be an exact integer (e.g. a 6-dp score in
    integer micros) and the mean comparison is done as x * n >= sum(x) in
    decimal(38,0) arithmetic — no floating-point summation order anywhere,
    so the boolean is bit-stable across engines and partition orders (a
    float avg() differs in the last ulp between Spark and any oracle
    engine when the sum order differs, flipping rows that tie with the
    mean)."""
    group = [column_col] if column_col else []
    w_expr = (
        F.col(weight_col).cast("decimal(38,0)") if weight_col
        else F.lit(1).cast("decimal(38,0)")
    )
    stats = cands.groupBy(*group).agg(
        F.sum(F.col(prediction_col).cast("decimal(38,0)") * w_expr).alias("_pgt_tot"),
        F.sum(w_expr).alias("_pgt_n"),
    )
    joined = (
        cands.join(F.broadcast(stats), group) if group
        else cands.crossJoin(F.broadcast(stats))
    )
    cond = (
        F.col(prediction_col).cast("decimal(38,0)") * F.col("_pgt_n")
        >= F.col("_pgt_tot")
    )
    return joined.withColumn(
        out, F.when(cond & (F.col(filter_col) > 0), 1).otherwise(0)
    ).drop("_pgt_tot", "_pgt_n")
