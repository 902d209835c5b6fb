#!/usr/bin/env python3
"""End-to-end benchmark of the KG build: one workload, one seed, cold, in
this fresh process at local[nproc].

    python3 kgbench/run.py --workload corpus_link --seed 1 --seconds 10 --trace 0

The engine is driven only through its public entry points: `job.main` for
`corpus_link` and the `operators.dedup` functions for `doc_dedup`.
Outputs are checked against the planted truth of `kgbench/gen.py`. The last
line of stdout is one JSON object: {correct, attempted, failed, metrics}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 they are
the per-layer ones, from spans around the engine's public functions and
the Spark event log (see kgbench/README.md).

Every file it writes lives under `.kgbench/` at the repository root.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".kgbench")

# Input shapes, bounded by the cost of one cold run on 4 cores: a
# wikify→write job runs about 180 Spark jobs, so per-job fixed cost, not
# input size, sets most of its time.
SHAPES = {
    "corpus_link": {"kind": "link", "repos": 1250, "entities": 200, "parts": 8},
    "doc_dedup": {"kind": "dedup", "docs": 300, "parts": 4},
}
SETUPS = 5
MIN_PR = 0.95
DEDUP_OPS = ("exact", "minhash", "simhash", "ngram")

END_TO_END = {
    "setup_s": "s",
    "cpu_s": "s",
    "files_per_cpu_s": "1/s",
    "rows_out_per_cpu_s": "1/s",
    "precision": "share",
    "recall": "share",
}
LINK_LAYERS = (
    "mentions", "candidates", "features", "ranker", "topk", "pipeline",
    "connected_components", "triples", "checkpoint",
)
LAYERS = LINK_LAYERS + tuple(f"dedup.{op}" for op in DEDUP_OPS)
FOLDED = ("jobs", "exec_s", "exec_cpu_s", "shuffle_bytes", "spill_bytes", "failed_tasks")


def per_layer_units() -> dict[str, str]:
    units: dict[str, str] = {}
    for layer in LAYERS:
        units[f"{layer}.self_s"] = "s"
        units[f"{layer}.jobs"] = "count"
        units[f"{layer}.exec_s"] = "s"
        units[f"{layer}.exec_cpu_s"] = "s"
        units[f"{layer}.shuffle_bytes"] = "bytes"
        units[f"{layer}.spill_bytes"] = "bytes"
        units[f"{layer}.failed_tasks"] = "count"
    units.update({
        "mentions.rows_out": "count",
        "mentions.labels": "count",
        "candidates.rows_out": "count",
        "candidates.per_label": "count",
        "features.rows_out": "count",
        "topk.match_share": "share",
        "pipeline.rows_out": "count",
        "triples.rows_out": "count",
        "checkpoint.parts_written": "count",
        "checkpoint.bytes_written": "bytes",
        **{f"dedup.{op}.pairs_out": "count" for op in DEDUP_OPS},
        "session.start_s": "s",
        "session.jvm_peak_rss_mb": "MB",
        "tracing.self_s": "s",
        "tracing.wall_s": "s",
        "tracing.covered_share": "share",
        "tracing.overhead_s": "s",
    })
    return units


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the Spark JVM, read from /proc before the session stops."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def stop_jvm(spark) -> None:
    """Stop the session and the Spark JVM, and wait until the JVM has
    exited (its Python worker daemon exits with it)."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    proc.wait(timeout=60)


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by process `root` and its descendants: the
    driver, the Spark JVM, the Python worker daemon and its workers. A
    child's time stays counted after it exits, in its parent's
    cutime/cstime."""
    procs: dict[int, tuple[int, int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited meanwhile
            continue
        # fields[1] is ppid; [11:15] are utime, stime, cutime, cstime
        procs[int(name)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        ticks += procs.get(pid, (0, 0))[1]
        todo.extend(children.get(pid, ()))
    return ticks / os.sysconf("SC_CLK_TCK")


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def row_digest(rows) -> int:
    """Order-insensitive digest: sum of per-row md5 prefixes."""
    return sum(
        int(hashlib.md5("\x1f".join(map(str, r)).encode()).hexdigest()[:15], 16)
        for r in rows
    )


def repeat_check(input_dir: str, record: dict, errors: list) -> None:
    """The same seed must give identical outputs: compare against the
    record of the first run with this seed in this checkout, or write it."""
    path = os.path.join(input_dir, "expect.json")
    if os.path.exists(path):
        with open(path) as f:
            want = json.load(f)
        if want != record:
            errors.append(f"output differs from an earlier run of this seed: {record} != {want}")
    else:
        with open(path + ".tmp", "w") as f:
            json.dump(record, f)
        os.replace(path + ".tmp", path)


def prec_rec(pred: set, gold: set) -> tuple[float, float]:
    tp = len(pred & gold)
    return (tp / len(pred) if pred else 0.0), (tp / len(gold) if gold else 0.0)


# ------------------------------------------------------------ link
def canonical_map(edges: list) -> dict[str, str]:
    """Union-find over the generated sameAs edges; the representative of a
    component is its smallest qnode string (the engine's contract)."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def check_link(out: str, stats: dict, truth: dict, input_dir: str) -> dict:
    """Score the written triples against the planted links; every violated
    property is appended to the result's `errors`."""
    import pyarrow.dataset as ds

    table = ds.dataset(
        os.path.join(out, "triples"), format="parquet", partitioning="hive"
    ).to_table(columns=["subj", "pred", "obj"])
    rows = list(zip(*(table.column(c).to_pylist() for c in ("subj", "pred", "obj"))))
    manifest = ds.dataset(os.path.join(out, "_manifest"), format="parquet").to_table()
    n, errors = len(rows), []
    if n == 0 or n != stats["n_triples"] or n != sum(manifest.column("n_triples").to_pylist()):
        errors.append(f"triple count {n} disagrees with writer stats {stats} or the manifest")
    canon = canonical_map(truth["edges"])
    gold = {(obj, canon.get(q, q)) for obj, q in truth["golden"]}
    pred = set()
    for subj, p, obj in rows:
        if p == "P:mentionedIn":
            pred.add((obj, subj))
        elif p == "P:sameAs":
            if subj == obj or canon.get(subj, subj) != obj:
                errors.append(f"sameAs triple {subj} -> {obj} is not its canonical form")
        elif p == "P31":
            if canon.get(subj, subj) != subj:
                errors.append(f"typing triple on non-canonical subject {subj}")
        else:
            errors.append(f"unknown predicate {p}")
    precision, recall = prec_rec(pred, gold)
    if min(precision, recall) < MIN_PR:
        errors.append(f"precision {precision:.4f} / recall {recall:.4f} below {MIN_PR}")
    repeat_check(input_dir, {"n_triples": n, "digest": str(row_digest(rows))}, errors)
    return {
        "rows_out": n, "precision": precision, "recall": recall,
        "inputs": truth["files"], "errors": errors,
    }


def run_link(spark, input_dir: str, out: str, tracer=None) -> dict:
    from wikidata_wikifier_spark import job

    argv = [
        "job", "--source", os.path.join(input_dir, "source"),
        "--index", os.path.join(input_dir, "index"),
        "--edges", os.path.join(input_dir, "edges"), "--out", out,
    ]
    saved, sys.argv = sys.argv, argv
    buf = io.StringIO()
    try:
        with contextlib.redirect_stdout(buf):
            job.main()
    finally:
        sys.argv = saved
    return json.loads(buf.getvalue().strip().splitlines()[-1])


# ------------------------------------------------------------ dedup
def run_dedup(spark, input_dir: str, out: str, tracer=None) -> dict:
    from wikidata_wikifier_spark.operators import dedup

    docs = spark.read.parquet(os.path.join(input_dir, "docs"))
    fns = {
        "exact": dedup.exact_duplicates,
        "minhash": dedup.minhash_lsh_pairs,
        "simhash": dedup.simhash_pairs,
        "ngram": dedup.ngram_jaccard_pairs,
    }
    for op, fn in fns.items():
        path = os.path.join(out, op)
        write = lambda fn=fn, path=path: fn(docs).write.mode("overwrite").parquet(path)  # noqa: E731
        if tracer:
            tracer.span(f"dedup.{op}", write)
        else:
            write()
    return {}


def check_dedup(out: str, stats: dict, truth: dict, input_dir: str) -> dict:
    """Score the four pair tables against the planted copies."""
    import pyarrow.parquet as pq

    errors = []
    ex = pq.read_table(os.path.join(out, "exact")).to_pydict()
    if len(ex["doc_id"]) != truth["docs"]:
        errors.append(f"exact_duplicates returned {len(ex['doc_id'])} rows for {truth['docs']} docs")
    groups: dict[int, list] = {}
    for d, g in zip(ex["doc_id"], ex["group_id"]):
        groups.setdefault(g, []).append(d)
    pairs = {"exact": {(a, b) for m in groups.values() for a in m for b in m if a < b}}
    counts = {"exact": len(pairs["exact"])}
    for op in DEDUP_OPS[1:]:
        t = pq.read_table(os.path.join(out, op)).to_pydict()
        pairs[op] = {(min(a, b), max(a, b)) for a, b in zip(t["a"], t["b"])}
        counts[op] = len(t["a"])
    exact_truth = {tuple(p) for p in truth["exact"]}
    if pairs["exact"] != exact_truth:
        errors.append(
            f"exact pairs differ from the planted exact copies in "
            f"{len(pairs['exact'] ^ exact_truth)} pairs"
        )
    gold = {tuple(p) for p in truth["exact"] + truth["near"]}
    found = set().union(*pairs.values())
    precision, recall = prec_rec(found, gold)
    if min(precision, recall) < MIN_PR:
        errors.append(f"precision {precision:.4f} / recall {recall:.4f} below {MIN_PR}")
    repeat_check(input_dir, {"pairs": counts, "digest": str(row_digest(sorted(found)))}, errors)
    return {
        "rows_out": sum(counts.values()), "precision": precision, "recall": recall,
        "inputs": truth["docs"], "pairs": counts, "errors": errors,
    }


# ------------------------------------------------------------ tracing
def install_link_tracer(tracer) -> None:
    from pyspark.sql import functions as F

    from wikidata_wikifier_spark import pipeline, triples
    from wikidata_wikifier_spark.operators import candidates, features, mentions, ranker, topk
    from wikidata_wikifier_spark.plans import checkpoint

    last: dict = {}  # the latest features output: the fully featured table

    def on_mentions(df):
        tracer.count("mentions", "rows_out", df)
        tracer.count("mentions", "labels", df, distinct="label_clean")

    def on_candidates(out):
        tracer.count("candidates", "rows_out", out[0])
        tracer.count("candidates", "labels", out[0], distinct="label_clean")

    def on_match(df):
        tracer.count("topk", "matched", df.where(F.col("match") == 1))
        tracer.count("topk", "labels", df, distinct="label_clean")

    def on_wikify(df):
        tracer.count("features", "rows_out", last["features"])
        tracer.count("pipeline", "rows_out", df)

    def on_write(stats):
        tracer.counts["checkpoint"]["parts_written"] = stats["written_parts"]

    # detect_mentions and connected_components are imported into pipeline
    # by name, so they are patched there
    tracer.wrap(pipeline, "detect_mentions", "mentions", on_mentions)
    tracer.wrap(mentions, "label_context", "mentions")
    tracer.wrap(candidates, "label_candidates", "candidates", on_candidates)
    for name in (
        "context_match_array", "string_similarity_features", "singleton_feature",
        "pick_hc_candidates", "context_score_relevant", "pgr_rts", "kth_percentile",
        "semantic_tfidf_map_multi", "create_pseudo_gt", "embedding_centroid_score",
    ):
        tracer.wrap(features, name, "features", lambda df: last.__setitem__("features", df))
    tracer.wrap(ranker, "predict_using_model", "ranker")
    tracer.wrap(topk, "get_kg_links", "topk")
    tracer.wrap(topk, "apply_match_rule", "topk", on_match)
    tracer.wrap(pipeline, "wikify", "pipeline", on_wikify)
    tracer.wrap(pipeline, "connected_components", "connected_components")
    tracer.wrap(triples, "links_to_triples", "triples",
                lambda df: tracer.count("triples", "rows_out", df))
    tracer.wrap(checkpoint, "write_triples", "checkpoint", on_write)


def untraced_wall(args, record: str) -> float:
    """Median wall time of the untraced jobs of this workload recorded in this
    checkout. With no record yet, one untraced run of this seed is made now,
    in a child process, before this process starts Spark."""
    if not os.path.exists(record):
        cmd = [
            sys.executable, os.path.abspath(__file__), "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0",
        ]
        subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL, timeout=170)
    with open(record) as f:
        return statistics.median(json.loads(line)["wall_s"] for line in f)


def layer_metrics(tracer, folded: dict, wall: float, base_wall: float, extra: dict) -> dict:
    selfs = tracer.self_times()
    m: dict[str, float] = {}
    for layer in LAYERS:
        m[f"{layer}.self_s"] = selfs.get(layer, 0.0)
        rec = folded.get(layer, {})
        for k in FOLDED:
            m[f"{layer}.{k}"] = rec.get(k, 0)
    c = tracer.counts
    m.update({
        "mentions.rows_out": c["mentions"].get("rows_out", 0),
        "mentions.labels": c["mentions"].get("labels", 0),
        "candidates.rows_out": c["candidates"].get("rows_out", 0),
        "candidates.per_label": (
            c["candidates"]["rows_out"] / c["candidates"]["labels"]
            if c["candidates"].get("labels") else 0.0
        ),
        "features.rows_out": c["features"].get("rows_out", 0),
        "topk.match_share": (
            c["topk"]["matched"] / c["topk"]["labels"] if c["topk"].get("labels") else 0.0
        ),
        "pipeline.rows_out": c["pipeline"].get("rows_out", 0),
        "triples.rows_out": c["triples"].get("rows_out", 0),
        "checkpoint.parts_written": c["checkpoint"].get("parts_written", 0),
        "tracing.self_s": selfs.get("tracing", 0.0),
        "tracing.wall_s": wall,
        "tracing.covered_share": sum(selfs.values()) / wall,
        "tracing.overhead_s": wall - base_wall,
    })
    m.update(extra)
    return m


# ------------------------------------------------------------ main
def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SHAPES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "wikidata_wikifier_spark")):
        print(f"kgbench: engine package not found under {ROOT}", file=sys.stderr)
        return 2
    shape = SHAPES[args.workload]
    local_dirs, tmp = os.path.join(WORK, "spark-local"), os.path.join(WORK, "tmp")
    for d in (local_dirs, tmp):
        os.makedirs(d, exist_ok=True)
    # workers unpickle the engine's UDFs by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = local_dirs
    # keep the JVM's and Python's temporary files inside the checkout
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        o for o in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData",
                    f"-Djava.io.tmpdir={tmp}") if o
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ.setdefault("SPARK_DRIVER_MEM", "4g")
    sys.path.insert(0, ROOT)

    from kgbench import gen

    input_dir, truth = gen.inputs(os.path.join(WORK, "cache"), args.workload, args.seed, shape)
    record = os.path.join(WORK, "cache", f"untraced-{os.path.basename(input_dir).split('-')[-1]}.jsonl")
    base_wall = untraced_wall(args, record) if args.trace else None

    from wikidata_wikifier_spark.session import get_spark

    conf = {"spark.ui.showConsoleProgress": "false"}
    log_dir = os.path.join(WORK, "eventlog", str(os.getpid()))
    if args.trace:
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + log_dir,
        })

    # set-up: session up, one trivial action, inputs opened and sized.
    # The first set-up starts the JVM; the later ones restart the Spark
    # context inside it.
    setups, session_start = [], None
    for i in range(SETUPS):
        if i:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark(app_name=f"kgbench-{args.workload}", extra_conf=conf)
        if session_start is None:
            session_start = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1).count()
        if shape["kind"] == "link":
            spark.read.parquet(os.path.join(input_dir, "source")).schema
            spark.read.parquet(os.path.join(input_dir, "index")).count()
        else:
            spark.read.parquet(os.path.join(input_dir, "docs")).count()
        setups.append(time.perf_counter() - t0)

    tracer = None
    if args.trace:
        from kgbench.trace import Tracer

        tracer = Tracer(spark)
        if shape["kind"] == "link":
            install_link_tracer(tracer)

    run, check = (run_link, check_link) if shape["kind"] == "link" else (run_dedup, check_dedup)
    walls, cpus, results, attempted, failed = [], [], [], 0, 0
    out_root = os.path.join(WORK, "out", f"{args.workload}-{args.seed}")
    t_start = time.perf_counter()
    # closed loop: the next job starts when the previous one has committed
    while attempted == 0 or time.perf_counter() - t_start < args.seconds:
        attempted += 1
        out = os.path.join(out_root, str(attempted))
        shutil.rmtree(out, ignore_errors=True)
        try:
            c0, t0 = tree_cpu_s(os.getpid()), time.perf_counter()
            stats = run(spark, input_dir, out, None if walls else tracer)
            walls.append(time.perf_counter() - t0)
            cpus.append(tree_cpu_s(os.getpid()) - c0)
        except Exception:  # a failed job is counted, not fatal
            traceback.print_exc()
            failed += 1
            continue
        print(f"kgbench: job {attempted}: wall {walls[-1]:.3f} s, cpu {cpus[-1]:.2f} s", file=sys.stderr)
        res = check(out, stats, truth, input_dir)
        results.append(res)
        if res["errors"]:
            failed += 1
            print("kgbench: output check failed: " + "; ".join(res["errors"][:5]), file=sys.stderr)
        if tracer is not None and len(walls) == 1:
            # the trace covers the first job only
            tracer.unwrap()
            if shape["kind"] == "link":
                tracer.counts["checkpoint"]["bytes_written"] = dir_bytes(out)
        shutil.rmtree(out, ignore_errors=True)

    if not walls:
        stop_jvm(spark)
        print(json.dumps({"correct": False, "attempted": attempted, "failed": failed, "metrics": {}}))
        return 1
    # metrics describe the first job, which runs cold as a submitted job
    # does; later jobs in the window are only checked
    wall, cpu, res = walls[0], cpus[0], results[0]
    if args.trace:
        rss = jvm_peak_rss_mb(spark)
        app_id = spark.sparkContext.applicationId
        stop_jvm(spark)
        from kgbench.trace import fold_event_log

        extra = {
            "checkpoint.bytes_written": tracer.counts["checkpoint"].get("bytes_written", 0),
            "session.start_s": session_start,
            "session.jvm_peak_rss_mb": rss,
            **{f"dedup.{op}.pairs_out": res.get("pairs", {}).get(op, 0) for op in DEDUP_OPS},
        }
        values = layer_metrics(tracer, fold_event_log(log_dir, app_id), wall, base_wall, extra)
        units = per_layer_units()
        shutil.rmtree(log_dir)
    else:
        stop_jvm(spark)
        values = {
            "setup_s": statistics.median(setups),
            "cpu_s": cpu,
            "files_per_cpu_s": res["inputs"] / cpu,
            "rows_out_per_cpu_s": res["rows_out"] / cpu,
            "precision": res["precision"],
            "recall": res["recall"],
        }
        units = END_TO_END
        with open(record, "a") as f:
            f.write(json.dumps({"seed": args.seed, "wall_s": wall}) + "\n")
    metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
