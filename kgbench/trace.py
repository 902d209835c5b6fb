"""Outside-in per-layer tracing for the traced benchmark run.

The tracer wraps public functions of the engine by module attribute. Each
wrapper opens a span named after the layer (the module), tags every Spark
job launched inside it with that layer's job group, and `localCheckpoint`s a
returned DataFrame so the work the layer defined runs inside its own span
and the next layer starts from materialized input. Spans record their
parent, which gives each layer its self time.

Spans are kept in memory and folded once at the end of the run, together
with the Spark event log: `JobStart` events map jobs to job groups, and
`TaskEnd` metrics are summed per group.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import time
from collections import defaultdict

from pyspark.sql import DataFrame

COUNT_GROUP = "tracing"


class Tracer:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.counts: dict[str, dict] = defaultdict(dict)
        self._patched: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ spans
    def _group(self, name: str | None) -> None:
        sc = self.spark.sparkContext
        if name is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(name, name)

    def span(self, layer: str, fn, *args, **kwargs):
        """Run fn inside a span of `layer`; materialize a DataFrame result."""
        parent = self.stack[-1] if self.stack else None
        idx = len(self.spans)
        self.spans.append({"layer": layer, "parent": parent, "t0": time.perf_counter()})
        self.stack.append(idx)
        self._group(layer)
        try:
            out = fn(*args, **kwargs)
            if isinstance(out, DataFrame):
                out = out.localCheckpoint()
            elif isinstance(out, tuple) and out and isinstance(out[0], DataFrame):
                out = (out[0].localCheckpoint(),) + out[1:]
        finally:
            self.spans[idx]["t1"] = time.perf_counter()
            self.stack.pop()
            self._group(self.spans[parent]["layer"] if parent is not None else None)
        return out

    def count(self, layer: str, key: str, df: DataFrame, distinct: str | None = None) -> None:
        """Record a row count of a layer's (materialized) output. The count
        job runs in its own span and job group, so it is charged to
        `tracing`, never to the layer or its parent."""

        def run():
            sel = df.select(distinct).distinct() if distinct else df
            return sel.count()

        self.counts[layer][key] = self.span(COUNT_GROUP, run)

    def wrap(self, module, attr: str, layer: str, after=None) -> None:
        """Replace module.attr with a spanned version; `after(out)` may
        record counts of the layer's output."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            out = self.span(layer, orig, *args, **kwargs)
            if after is not None:
                after(out)
            return out

        self._patched.append((module, attr, orig))
        setattr(module, attr, traced)

    def unwrap(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()

    def self_times(self) -> dict[str, float]:
        """Per layer: span durations minus the time covered by child spans."""
        child: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["t1"] - s["t0"]
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s["layer"]] += (s["t1"] - s["t0"]) - child[i]
        return dict(out)


# ------------------------------------------------------------ event log
def fold_event_log(log_dir: str, app_id: str) -> dict[str, dict]:
    """Sum TaskEnd metrics per job group of one application's event log.

    Returns {group: {jobs, exec_s, exec_cpu_s, shuffle_bytes, spill_bytes,
    failed_tasks}}. The log must be uncompressed
    (spark.eventLog.compress=false)."""
    files = sorted(
        glob.glob(os.path.join(log_dir, f"*{app_id}*", "events_*"))
        + glob.glob(os.path.join(log_dir, f"{app_id}*"))
    )
    files = [f for f in files if os.path.isfile(f)]
    if not files:
        raise FileNotFoundError(f"no event log for {app_id} under {log_dir}")
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(
        lambda: {
            "jobs": 0, "exec_s": 0.0, "exec_cpu_s": 0.0,
            "shuffle_bytes": 0, "spill_bytes": 0, "failed_tasks": 0,
        }
    )
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "untagged"
                    out[group]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    rec = out[stage_group.get(ev.get("Stage ID"), "untagged")]
                    if (ev.get("Task Info") or {}).get("Failed"):
                        rec["failed_tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    rec["exec_s"] += m.get("Executor Run Time", 0) / 1000.0
                    rec["exec_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    rec["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    rec["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    return dict(out)
