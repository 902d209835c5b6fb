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

On a cluster the session comes from spark-submit's conf (no master
override here). --checkpoint-dir sets the session's checkpoint directory,
which makes every materialization barrier (plans/barrier.py) a reliable
checkpoint there, so a lost executor does not lose barrier data.
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession


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

    from .pipeline import canonicalize_links, wikify
    from .plans.checkpoint import write_triples
    from .triples import links_to_triples

    source = (
        spark.read.table(args.source)
        if "/" not in args.source
        else spark.read.parquet(args.source)
    )
    index = (
        spark.read.table(args.index)
        if "/" not in args.index
        else spark.read.parquet(args.index)
    )

    # ONE count job total for the size hints: wikify's label_candidates
    # counts the alias index anyway (a real scan job, not metadata-free) and
    # exposes it via the stats out-dict; the output tail's typing join
    # reuses that number instead of re-scanning the ~100M-row index
    # (size_aware_broadcast only gates a broadcast decision — the slightly
    # larger alias-row count is a conservative stand-in for index rows)
    wikify_stats: dict = {}
    links = wikify(source, index, k=args.k, salt=args.salt, stats=wikify_stats)
    if args.edges:
        edges = (
            spark.read.table(args.edges)
            if "/" not in args.edges
            else spark.read.parquet(args.edges)
        )
        links = canonicalize_links(links, edges)
    triples = links_to_triples(links, index, idx_rows=wikify_stats["idx_rows"])
    stats = write_triples(triples, args.out, resume=args.resume)
    print(json.dumps(stats))
    if not pre_existing:
        spark.stop()


if __name__ == "__main__":
    main()
