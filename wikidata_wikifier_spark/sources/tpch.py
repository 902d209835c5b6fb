"""Loaders for the driver-generated synthetic test tables (TESTDATA.md).

All reads are plain parquet scans: Catalyst pushes filters and prunes
columns into the scan (verify with .explain → PushedFilters / ReadSchema).
At cluster scale the same call sites read Iceberg tables instead — the
format is a one-line swap, the plan shape is identical.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# One count job per (session, sf_dir, table), then cached — row-count size
# hints for size_aware_broadcast call sites (Q3/Q5's customer dim, the
# oracle-handoff fingerprints) must not re-scan the table every query call.
# Parquet count() is footer-metadata cheap (Spark's aggregate pushdown
# reads row-group counts, not data pages), but it is still a job per call.
_ROWS_CACHE: dict[tuple[str, str, str], int] = {}


def table_rows(spark: SparkSession, sf_dir: str, name: str) -> int:
    key = (spark.sparkContext.applicationId, sf_dir, name)
    if key not in _ROWS_CACHE:
        _ROWS_CACHE[key] = load_table(spark, sf_dir, name).count()
    return _ROWS_CACHE[key]
