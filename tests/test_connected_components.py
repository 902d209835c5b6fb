"""CC correctness on adversarial graphs: chains, cycles, stars, and one
large component (FIXTURES.md §6), asserted against a pure-Python
union-find oracle."""

from __future__ import annotations

import random

import pytest

from wikidata_wikifier_spark.operators.connected_components import (
    connected_components,
)


def uf_oracle(edges: list[tuple[str, str]]) -> dict[str, str]:
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
    return {n: find(n) for n in parent}


def shuffled_chain(n: int, seed: int) -> list[tuple[str, str]]:
    """A path whose node ids are in random order along it: min-label
    propagation needs many more rounds than on an id-sorted chain."""
    ids = [f"S{i:03d}" for i in range(n)]
    random.Random(seed).shuffle(ids)
    return list(zip(ids, ids[1:]))


GRAPHS = {
    "chain": [(f"Q{i:03d}", f"Q{i+1:03d}") for i in range(0, 99)],
    "cycle": [(f"C{i}", f"C{(i+1) % 7}") for i in range(7)],
    "two_triangles_bridge": [
        ("A1", "A2"), ("A2", "A3"), ("A3", "A1"),
        ("B1", "B2"), ("B2", "B3"), ("B3", "B1"),
        ("A3", "B1"),
        ("Z1", "Z2"),
    ],
    "star": [("HUB", f"S{i:02d}") for i in range(20)],
    "self_loops_and_dups": [("X", "X"), ("X", "Y"), ("Y", "X"), ("X", "Y")],
    "shuffled_chain": shuffled_chain(100, seed=7),
}


@pytest.mark.parametrize("name", sorted(GRAPHS.keys()))
def test_cc_matches_union_find(spark, name):
    edges = GRAPHS[name]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r["node"]: r["component"]
        for r in connected_components(df).collect()
    }
    want = uf_oracle(edges)
    assert got == want, f"{name}: {got} != {want}"


def test_cc_deterministic_across_parallelism(spark):
    edges = GRAPHS["chain"] + GRAPHS["star"] + GRAPHS["cycle"]
    df1 = spark.createDataFrame(edges, ["src", "dst"]).repartition(1)
    df8 = spark.createDataFrame(edges, ["src", "dst"]).repartition(8)
    r1 = sorted(map(tuple, connected_components(df1).collect()))
    r8 = sorted(map(tuple, connected_components(df8).collect()))
    assert r1 == r8
