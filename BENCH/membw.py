#!/usr/bin/env python
"""STREAM-style aggregate memory-bandwidth measurement at N concurrent
processes — the hardware ceiling behind the single-box scaling numbers.

Each worker repeatedly copies a 256 MB numpy array (read + write ≈ 2×
bytes); the parent reports the aggregate GB/s over all workers. Spark SQL
row processing (scans, shuffles, checkpoint materialization) is
memory-streaming, so the ratio bw(4N)/bw(N) bounds the achievable N→4N
throughput scaling of the whole pipeline ON THIS BOX — a real cluster
adds a memory bus per node, which is what the ≥0.8 target assumes.

Usage: python BENCH/membw.py --procs 2 [--seconds 6]
Prints one JSON line; bench.py records its readings as `probe_gb_s`.
"""

from __future__ import annotations

import argparse
import json
import multiprocessing as mp
import time


def worker(seconds: float, out_q: mp.Queue) -> None:
    import numpy as np

    a = np.ones(256 * 1024 * 1024 // 8, dtype=np.float64)
    b = np.empty_like(a)
    n_bytes = 0
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < seconds:
        np.copyto(b, a)
        n_bytes += 2 * a.nbytes  # one read + one write stream
    out_q.put(n_bytes / (time.perf_counter() - t0))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--procs", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=6.0)
    args = ap.parse_args()

    q: mp.Queue = mp.Queue()
    ps = [
        mp.Process(target=worker, args=(args.seconds, q))
        for _ in range(args.procs)
    ]
    for p in ps:
        p.start()
    rates = [q.get() for _ in ps]
    for p in ps:
        p.join()
    agg = sum(rates) / 1e9
    print(json.dumps({"procs": args.procs, "agg_gb_per_sec": round(agg, 2)}))


if __name__ == "__main__":
    main()
