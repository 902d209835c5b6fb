"""bench.py CLI contract: one JSON line on stdout with the fields the
round driver consumes (value/queries/sf/...) plus the round-5 noise
fields (median runs, spread, first-run sum, membw probe brackets), and
the --plans side output. Runs two fast queries at sf0.001 so the whole
test stays ~30 s on an idle
host — the timeout is sized for the LOADED host this box frequently is
(membw probes have read 0.03 GB/s vs ~30 idle, a ~10× slowdown on
everything), because a host-load flake here would mask real contract
breaks."""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_bench_cli_json_contract(tmp_path):
    plans = tmp_path / "plans"
    r = subprocess.run(
        [
            sys.executable, os.path.join(ROOT, "bench.py"),
            "--cpus", "4", "--sf-dir", "/root/testdata/sf0.001",
            "--runs", "2", "--queries", "dedup_exact", "events_sessionize",
            "--plans", str(plans),
        ],
        capture_output=True, text=True, timeout=1200, cwd=ROOT,
    )
    assert r.returncode == 0, r.stderr[-500:]
    line = [l for l in r.stdout.strip().splitlines() if l.startswith("{")][-1]
    out = json.loads(line)

    assert out["metric"] == "headline_queries_total"
    assert out["unit"] == "sec"
    assert out["sf"] == 0.001
    assert out["runs"] == 2
    assert set(out["queries"]) == {"dedup_exact", "events_sessionize"}
    # per-query median lies inside its own [min, max] spread
    for q, med in out["queries"].items():
        lo, hi = out["queries_spread"][q]
        assert lo <= med <= hi
    # bench.py sums UNROUNDED medians then rounds; summing the rounded
    # per-query values can land 0.001/query away — tolerance, not equality
    assert abs(out["value"] - sum(out["queries"].values())) <= 0.001 * len(out["queries"])
    # first-run sum >= nothing in particular, but must be present + finite
    assert out["value_run1"] > 0
    # probe bracket: two entries, each a float or None (probe never fatal)
    assert len(out["probe_gb_s"]) == 2
    for p in out["probe_gb_s"]:
        assert p is None or p > 0
    # --plans: one explain("formatted") file per query
    assert sorted(f.name for f in plans.iterdir()) == [
        "dedup_exact.txt", "events_sessionize.txt",
    ]
    for f in plans.iterdir():
        assert "Physical Plan" in f.read_text()
