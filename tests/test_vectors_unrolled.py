"""r06 perf kernels: the unrolled fixed-dim cosine/norm/LSH expressions
(functions/vectors.py, operators/similarity.py) must be BIT-identical to
the original interpreted F.aggregate/F.zip_with folds on every input the
caller contract admits (uniform-dim vectors, zero vectors, nulls, signed
zeros, large magnitudes), and passing a dim hint through the operators
must leave every output row unchanged. Mixed-dim data is exercised via
the operator API: the sniff returns None there and the original
expressions run."""

from __future__ import annotations

from pyspark.sql import functions as F

from wikidata_wikifier_spark.functions.vectors import (
    cosine,
    cosine_fixed,
    norm,
    norm_fixed,
)
from wikidata_wikifier_spark.operators.dedup import embedding_cosine_pairs
from wikidata_wikifier_spark.operators.similarity import (
    brute_force_topk,
    lsh_bucket,
    lsh_topk,
)
from wikidata_wikifier_spark.sources.tpch import load_table

SF_DIR = "/root/testdata/sf0.001"
DIM = 4


def _edge_vectors(spark):
    rows = [
        (0, [1.0, 2.0, 3.0, 4.0]),
        (1, [0.5, -2.25, 3.125, -0.0078125]),
        (2, [0.0, 0.0, 0.0, 0.0]),          # zero vector → cosine 0.0
        (3, None),                           # null → null through both paths
        (4, [-0.0, 0.0, 1e-9, -1e-9]),       # signed-zero accumulation
        (5, [1e154, 1e154, -1e154, 0.25]),   # large magnitudes
    ]
    return spark.createDataFrame(rows, "id long, v array<double>")


def test_cosine_and_norm_bitexact_on_edges(spark):
    df = _edge_vectors(spark)
    pairs = df.alias("a").crossJoin(
        df.select(F.col("id").alias("id2"), F.col("v").alias("v2"))
    )
    out = pairs.select(
        "id",
        "id2",
        cosine(F.col("v"), F.col("v2")).alias("slow"),
        cosine_fixed(F.col("v"), F.col("v2"), DIM).alias("fast"),
        norm(F.col("v")).alias("nslow"),
        norm_fixed(F.col("v"), DIM).alias("nfast"),
    ).collect()
    for r in out:
        # exact equality incl. null-vs-null; repr distinguishes 0.0/-0.0
        assert repr(r["slow"]) == repr(r["fast"]), (r["id"], r["id2"])
        assert repr(r["nslow"]) == repr(r["nfast"]), r["id"]


def test_lsh_bucket_bitexact(spark):
    df = _edge_vectors(spark)
    out = df.select(
        lsh_bucket(F.col("v")).alias("slow"),
        lsh_bucket(F.col("v"), dim=DIM).alias("fast"),
    ).collect()
    for r in out:
        assert r["slow"] == r["fast"]


def _rows(df, cols):
    return sorted(
        tuple(r) for r in df.select(*cols).collect()
    )


def test_operators_identical_with_dim_hint(spark):
    embs = load_table(spark, SF_DIR, "embeddings")
    q = embs.where(F.col("vec_id") % 100 == 0)
    dim = embs.select(F.max(F.size("embedding"))).first()[0]

    cols = ["q_id", "n_id", "cosine", "rank"]
    assert _rows(brute_force_topk(embs, q, k=5), cols) == _rows(
        brute_force_topk(embs, q, k=5, dim=dim), cols
    )
    assert _rows(lsh_topk(embs, q, k=5), cols) == _rows(
        lsh_topk(embs, q, k=5, dim=dim), cols
    )
    pcols = ["a", "b", "cosine"]
    assert _rows(embedding_cosine_pairs(embs), pcols) == _rows(
        embedding_cosine_pairs(embs, dim=dim), pcols
    )


def test_sniff_returns_none_on_mixed_dims(spark, tmp_path):
    """embeddings_dim must return the dim on uniform tables and None on
    mixed-dim tables (None disables the unrolled path entirely)."""
    from wikidata_wikifier_spark.queries import embeddings_dim

    mixed = str(tmp_path / "mixed")
    spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [1.0, 2.0, 3.0])],
        "vec_id long, embedding array<double>",
    ).write.parquet(mixed + "/embeddings.parquet")
    assert embeddings_dim(spark, mixed) is None

    uniform = str(tmp_path / "uniform")
    spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0]), (1, None)],
        "vec_id long, embedding array<double>",
    ).write.parquet(uniform + "/embeddings.parquet")
    assert embeddings_dim(spark, uniform) == 3


def test_distinct_shingles3_matches_native(spark):
    """The Arrow-batch shingle builder must equal
    array_distinct(word_shingles(·)) element-for-element (incl. order) on
    real docs and on the edge cases (null text, empty, < 3 tokens)."""
    from wikidata_wikifier_spark.operators.dedup import (
        distinct_shingles3,
        word_shingles,
        word_tokens,
    )

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    edges = spark.createDataFrame(
        [
            (900001, None),
            (900002, ""),
            (900003, "one two"),
            (900004, "  Exactly   Three  tokens "),
            (900005, "a b c a b c a b c"),
        ],
        "doc_id long, text string",
    )
    df = docs.unionByName(edges)
    out = df.select(
        F.array_distinct(word_shingles(F.col("text"))).alias("native"),
        distinct_shingles3(word_tokens(F.col("text"))).alias("arrow"),
    ).collect()
    for r in out:
        assert r["native"] == r["arrow"]


def test_plane_dots_fold_matches_gated_bucket(spark):
    """Staged fold + gated assembly must equal lsh_bucket_gated (the
    original 12 separate folds) for every depth, incl. null vectors."""
    from wikidata_wikifier_spark.operators.similarity import (
        bucket_from_dots,
        lsh_bucket_gated,
        plane_dots_fold,
    )

    df = _edge_vectors(spark).crossJoin(
        spark.createDataFrame([(0,), (3,), (7,), (12,)], "depth int")
    )
    out = (
        df.withColumn("_pd", plane_dots_fold(F.col("v"), 12))
        .select(
            "id",
            "depth",
            lsh_bucket_gated(F.col("v"), F.col("depth"), 12).alias("orig"),
            bucket_from_dots(F.col("_pd"), 12, F.col("depth")).alias("staged"),
        )
        .collect()
    )
    for r in out:
        assert r["orig"] == r["staged"], (r["id"], r["depth"])


def test_sql_string_forms_match_column_forms(spark):
    """The server-parsed SQL renderings (string operands) must equal the
    Column-built forms exactly — same expression tree, just one py4j
    call."""
    from wikidata_wikifier_spark.functions.vectors import dot_unrolled

    df = _edge_vectors(spark).withColumnRenamed("v", "a").withColumn(
        "b", F.reverse(F.col("a"))
    )
    df = df.withColumn("na", norm_fixed("a", DIM)).withColumn(
        "nb", norm_fixed("b", DIM)
    )
    out = df.select(
        cosine_fixed(F.col("a"), F.col("b"), DIM).alias("col_form"),
        cosine_fixed("a", "b", DIM, na="na", nb="nb").alias("sql_form"),
        dot_unrolled(F.col("a"), F.col("b"), DIM).alias("col_dot"),
        dot_unrolled("a", "b", DIM).alias("sql_dot"),
        norm_fixed(F.col("a"), DIM).alias("col_norm"),
        norm_fixed("a", DIM).alias("sql_norm"),
        lsh_bucket(F.col("a"), dim=DIM).alias("col_bucket"),
        lsh_bucket("a", dim=DIM).alias("sql_bucket"),
    ).collect()
    for r in out:
        assert repr(r["col_form"]) == repr(r["sql_form"])
        assert repr(r["col_dot"]) == repr(r["sql_dot"])
        assert repr(r["col_norm"]) == repr(r["sql_norm"])
        assert r["col_bucket"] == r["sql_bucket"]


def test_distinct_char_ngrams_matches_native(spark):
    """The Arrow-batch char-ngram builder must equal
    array_distinct(char_ngrams(norm_text(·), 4)) element-for-element
    (incl. order) on real docs and edge cases. Both slice by code point
    (Spark's UTF8String is code-point based), so the non-BMP row must
    match too."""
    from wikidata_wikifier_spark.functions.hashing import char_ngrams
    from wikidata_wikifier_spark.operators.dedup import (
        distinct_char_ngrams,
        norm_text,
    )

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    edges = spark.createDataFrame(
        [
            (900001, None),
            (900002, ""),
            (900003, "abc"),
            (900004, "abcd"),
            (900005, "  AbCd   efGh  "),
            (900006, "aaaaaaaa"),
            (900007, "héllo wörld ünïcode"),
            (900008, "a😀bc😀d"),
        ],
        "doc_id long, text string",
    )
    df = docs.unionByName(edges)
    out = df.select(
        F.array_distinct(char_ngrams(norm_text(F.col("text")), 4)).alias("native"),
        distinct_char_ngrams(norm_text(F.col("text")), 4).alias("arrow"),
    ).collect()
    for r in out:
        assert r["native"] == r["arrow"]
