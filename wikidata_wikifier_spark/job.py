"""Cluster job entry point (north_rule: "the whole job runs via
spark-submit --py-files on multi-executor clusters").

    zip -r wikifier.zip wikidata_wikifier_spark
    spark-submit --py-files wikifier.zip \\
        --conf spark.sql.adaptive.enabled=true \\
        --conf spark.sql.adaptive.skewJoin.enabled=true \\
        -m wikidata_wikifier_spark.job \\
        --source  <path-or-iceberg-table of (repo,path,commit,lang,content)> \\
        --index   <path of entity index> \\
        --edges   <path of sameAs edges (src,dst)> \\
        --out     <output dir: triples/ + _manifest/> \\
        [--resume] [--k 1] [--checkpoint-dir <dir>]

Each input is a catalog table name, or a parquet path when it contains a
"/". The job runs pipeline.build_graph and prints the writer's stats
(written_parts, skipped_parts, n_triples) as its last stdout line.

On a cluster the session comes from spark-submit's conf (no master
override here). --checkpoint-dir sets the session's checkpoint directory,
which makes every materialization barrier (plans/barrier.py) a reliable
checkpoint there, so a lost executor does not lose barrier data.
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import DataFrame, SparkSession


def _read(spark: SparkSession, name: str) -> DataFrame:
    return spark.read.table(name) if "/" not in name else spark.read.parquet(name)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--source", required=True)
    ap.add_argument("--index", required=True)
    ap.add_argument("--edges", default=None)
    ap.add_argument("--out", required=True)
    ap.add_argument("--k", type=int, default=1)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--checkpoint-dir", default=None)
    ap.add_argument(
        "--salt", type=int, default=None,
        help="explicit salt width for the label fan-out join (head-entity "
        "skew); default lets size-aware broadcast / AQE handle it",
    )
    args = ap.parse_args()

    pre_existing = SparkSession.getActiveSession() is not None
    spark = SparkSession.builder.appName("kg-wikifier").getOrCreate()
    if args.checkpoint_dir:
        spark.sparkContext.setCheckpointDir(args.checkpoint_dir)

    from .pipeline import build_graph

    stats = build_graph(
        _read(spark, args.source),
        _read(spark, args.index),
        args.out,
        edges=_read(spark, args.edges) if args.edges else None,
        k=args.k,
        salt=args.salt,
        resume=args.resume,
    )
    print(json.dumps(stats))
    if not pre_existing:
        spark.stop()


if __name__ == "__main__":
    main()
