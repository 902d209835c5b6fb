"""Deterministic linking fixture derived from the driver's testdata.

The reference links table cells against an Elasticsearch index of Wikidata
labels/aliases. The driver's testdata has no Wikidata, so the
driver-checked queries derive both sides deterministically from `part`:

- entity_index: one row per part — qnode 'Q'||p_partkey, label = cleaned
  p_name, aliases = [label, brand-qualified label, p_type-qualified label],
  pagerank ∝ p_retailprice, class = p_type, typed context entries from
  p_brand/p_size and a derived date.
- mentions: every 5th part, with a deterministic perturbation by partkey
  mod 3: exact copy / trailing-char dropped (typo → fuzzy path) /
  uppercased (case → clean path). context carries brand|type|size, the
  tokens context-match compares against the entity's context entries.

Every derivation here is mirrored verbatim in the DuckDB oracle CTEs
(oracles.py — the single SQL source of truth) so the driver's value-hash
comparison is exact. The index also carries a deterministic 8-dim
"graph embedding" built from exact integer arithmetic
(((pkey*(d+13)) % 97) / 97.0) so embedding-centroid scoring is
reproducible bit-for-bit in ANSI SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.strings import clean_label
from ..sources.tpch import load_table

def entity_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    label = F.lower(F.col("p_name"))
    embedding = F.transform(
        F.sequence(F.lit(0), F.lit(7)),
        lambda d: ((F.col("p_partkey") * (d + 13)) % 97).cast("double") / 97.0,
    )
    pk = F.col("p_partkey")
    # class_count: multi-class entities (reference aux class_count map,
    # wikifier/wikifier.py:24,136-137) — primary class lower(p_type) plus
    # deterministic secondary classes so tf-idf sees overlapping class
    # sets. Mirrored in oracles.CLASS_KEYS_CTE.
    class_entries = F.filter(
        F.array(
            F.struct(
                F.lower("p_type").alias("key"), ((pk % 5) + 1).cast("int").alias("cnt")
            ),
            F.struct(
                F.when(pk % 2 == 0, F.concat(F.lit("grp"), (pk % 3).cast("string"))).alias("key"),
                ((pk % 3) + 1).cast("int").alias("cnt"),
            ),
            F.struct(
                F.when(pk % 13 == 0, F.concat(F.lit("rare"), (pk % 11).cast("string"))).alias("key"),
                F.lit(1).cast("int").alias("cnt"),
            ),
        ),
        lambda s: s["key"].isNotNull(),
    )
    # property_count: property-id → count map (reference aux
    # property_count, wikifier/wikifier.py:138-139). Presence varies by
    # partkey so the property distribution carries ranking signal.
    # Mirrored in oracles.PROP_KEYS_CTE.
    prop_entries = F.filter(
        F.array(
            F.struct(F.lit("P_brand").alias("key"), ((pk % 7) + 1).cast("int").alias("cnt")),
            F.struct(F.lit("P_size").alias("key"), F.lit(1).cast("int").alias("cnt")),
            F.struct(
                F.when(pk % 2 == 0, F.lit("P_container")).alias("key"),
                F.lit(2).cast("int").alias("cnt"),
            ),
            F.struct(
                F.when(pk % 3 == 0, F.lit("P_mfgr")).alias("key"),
                ((pk % 4) + 1).cast("int").alias("cnt"),
            ),
        ),
        lambda s: s["key"].isNotNull(),
    )
    # typed per-entity context array (context.jl analogue; SURVEY §1.2
    # array<struct<property,value,type>>). Mirrored in oracles.CTX_ENTRIES.
    dob = F.date_add(F.to_date(F.lit("1992-01-01")), (pk % 1000).cast("int"))
    ctx_entries = F.array(
        F.struct(
            F.lit("P_brand").alias("property"),
            F.col("p_brand").alias("value"),
            F.lit("string").alias("vtype"),
        ),
        F.struct(
            F.lit("P_size").alias("property"),
            F.col("p_size").cast("string").alias("value"),
            F.lit("quantity").alias("vtype"),
        ),
        F.struct(
            F.lit("P_dob").alias("property"),
            dob.cast("string").alias("value"),
            F.lit("date").alias("vtype"),
        ),
    )
    return part.select(
        F.col("p_partkey").alias("pkey"),
        F.concat(F.lit("Q"), F.col("p_partkey").cast("string")).alias("qnode"),
        label.alias("label"),
        F.array(
            label,
            F.concat_ws(" ", F.lower("p_brand"), label),
            F.concat_ws(" ", label, F.lower("p_type")),
        ).alias("aliases"),
        F.round(F.col("p_retailprice") / 1000.0, 6).alias("pagerank"),
        F.concat(
            F.lit("a "), F.lower("p_type"), F.lit(" of brand "), F.col("p_brand")
        ).alias("description"),
        F.lower("p_type").alias("class"),
        embedding.alias("embedding"),
        F.map_from_entries(class_entries).alias("class_count"),
        F.map_from_entries(prop_entries).alias("property_count"),
        ctx_entries.alias("context_arr"),
    )


def class_key_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(qnode, key, cnt) exploded view of the class_count map — the shape
    semantic_tfidf_map and reconcile typing consume."""
    idx = entity_index(spark, sf_dir)
    return idx.select(
        "qnode", F.explode("class_count").alias("key", "cnt")
    )


def class_label_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(type_id, type_name) — the ES ids-lookup analogue
    (wikifier_service.py:18-39): each class id resolves to a human label
    through a DIMENSION JOIN, the same shape the reference uses to turn
    type QNodes into names (never synthesized from the key at the call
    site). Deterministic label derivation, mirrored in
    oracles.py::reconcile_response's rrt CTE."""
    return (
        class_key_dim(spark, sf_dir)
        .select("key")
        .distinct()
        .select(
            F.col("key").alias("type_id"),
            F.concat(F.lit("the "), F.col("key"), F.lit(" class")).alias(
                "type_name"
            ),
        )
    )


def mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    lab = F.lower(F.col("p_name"))
    label = (
        F.when(F.col("p_partkey") % 3 == 0, lab)
        .when(
            F.col("p_partkey") % 3 == 1,
            F.substring(lab, 1, F.length("p_name").cast("int") - 1),
        )
        .otherwise(F.upper("p_name"))
    )
    return part.where(F.col("p_partkey") % 5 == 0).select(
        F.col("p_partkey").alias("row"),
        label.alias("label"),
        F.concat_ws(
            "|", F.col("p_brand"), F.lower("p_type"), F.col("p_size").cast("string")
        ).alias("context"),
    )


def cleaned_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = mentions(spark, sf_dir)
    return m.withColumn("label_clean", clean_label(F.col("label")))
