"""Recall referee for the set-similarity join (operators/setsim.py).

The DuckDB oracles mirror the prefix rule, so a prefix that loses recall
would still pass oracle parity in both engines. Here the join is compared
with a brute-force all-pairs round(J, 6) ≥ t instead, on a retrieval-like
R-S join (t = 0.5, no block) and a dedup-like self-join (t = 0.8, two
blocks). Planted pairs sit exactly at J = t and just below it, and share
only their most frequent grams, so the colliding gram is the last one in
a prefix of the exact length."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from wikidata_wikifier_spark.operators import setsim


def _grams(s: str, k: int) -> list[str]:
    return list(dict.fromkeys(s[i : i + k] for i in range(len(s) - k + 1)))


def _words(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(["red", "blue", "iron", "ring", "cold", "widget", "tea", "sun"])
                    for _ in range(n))


def _expected(left: dict, right: dict, t: float, self_join: bool) -> set:
    out = set()
    for a, (ablk, ga) in left.items():
        for b, (bblk, gb) in right.items():
            if ablk != bblk or (self_join and not a < b):
                continue
            o = len(set(ga) & set(gb))
            j = round(o / (len(ga) + len(gb) - o), 6) if o else 0.0
            if j >= t:
                out.add((a, b, j))
    return out


def _frame(spark, sets: dict, on: tuple[str, ...]):
    rows = [(i, blk, g, len(g)) for i, (blk, g) in sets.items()]
    df = spark.createDataFrame(rows, "id string, blk string, g array<string>, n int")
    return df.select("id", *on, "g", "n")


def _got(pairs, left, right, t: float) -> set:
    rows = (
        setsim.with_jaccard(pairs.select("a", "b").distinct(), left, right)
        .where(F.col("jaccard") >= t)
        .select("a", "b", "jaccard")
        .collect()
    )
    return {(r.a, r.b, r.jaccard) for r in rows}


def test_prefix_length_matches_closed_forms():
    """The integer prefix bound keeps exactly floor(n/2)+1 grams at t=0.5
    and floor(n/5)+1 at t=0.8 (the rank-L gram reaches t'·n, rank L+1
    does not)."""
    for t, div in ((0.5, 2), (0.8, 5)):
        for n in range(1, 400_000):
            keep = n // div + 1
            assert setsim._reaches(n - keep + 1, n, t), (t, n)
            assert not setsim._reaches(n - keep, n, t), (t, n)


def test_rs_join_recall_matches_brute_force(spark):
    t = 0.5
    rng = random.Random(20261018)
    alphabet = "abcde "
    heads = [f"#h{i}" for i in range(4)]
    # right side: random short strings, each also carrying the head grams
    # so those sort last in every prefix
    strings = ["".join(rng.choice(alphabet) for _ in range(rng.randint(3, 12)))
               for _ in range(200)]
    right = {f"r{i:03d}": (None, _grams(s, 3) + rng.sample(heads, 2))
             for i, s in enumerate(strings)}
    # left side: one-character edits of right strings, half of them with
    # the same head grams, so Jaccard spreads around the threshold
    left = {}
    for i in range(60):
        j = rng.randrange(len(strings))
        s = list(strings[j])
        s[rng.randrange(len(s))] = rng.choice(alphabet)
        extra = right[f"r{j:03d}"][1][-2:] if i % 2 else []
        left[f"l{i:03d}"] = (None, _grams("".join(s), 3) + extra)
    # planted: J = 4/8 = 0.5 exactly, and J = 3/7 and 7/15 just below
    right["r_eq"] = (None, heads)
    left["l_eq"] = (None, ["#u0", "#u1", "#u2", "#u3"] + heads)
    right["r_lo"] = (None, heads[:3] + ["#v0", "#v1"])
    left["l_lo"] = (None, ["#u4", "#u5"] + heads[:3])
    right["r_lo2"] = (None, [f"#w{i}" for i in range(7)] + ["#x0", "#x1", "#x2", "#x3"])
    left["l_lo2"] = (None, [f"#w{i}" for i in range(7)] + ["#y0", "#y1", "#y2", "#y3"])

    want = _expected(left, right, t, self_join=False)
    assert ("l_eq", "r_eq", 0.5) in want
    assert not {p[:2] for p in want} & {("l_lo", "r_lo"), ("l_lo2", "r_lo2")}
    assert len(want) > 20

    lf, rf = _frame(spark, left, ()), _frame(spark, right, ())
    assert _got(setsim.prefix_pairs(lf, rf, t), lf, rf, t) == want


def test_self_join_recall_matches_brute_force(spark):
    t = 0.8
    rng = random.Random(1018)
    heads = [f"#c{i}" for i in range(8)]
    docs = {}
    for i in range(80):
        blk = "en" if i % 2 else "de"
        text = _words(rng, rng.randint(4, 14))
        docs[f"d{i:03d}"] = (blk, _grams(text, 4) + rng.sample(heads, 3))
        # near copies: one word swapped, so J spreads around the threshold
        if i % 4 == 0:
            w = text.split(" ")
            w[rng.randrange(len(w))] = rng.choice(["gold", "tin", "ash"])
            docs[f"d{i:03d}n"] = (blk, _grams(" ".join(w), 4) + docs[f"d{i:03d}"][1][-3:])
    # planted: J = 8/10 = 0.8 exactly (the only shared grams are the most
    # frequent ones), 40/50 = 0.8 exactly, 15/19 just below, and a J = 1
    # pair split across the two blocks
    docs["p_eq_a"] = ("en", ["#a0", "#a1"] + heads)
    docs["p_eq_b"] = ("en", list(heads))
    big = [f"#b{i}" for i in range(40)]
    docs["p_eq2_a"] = ("de", big + [f"#e{i}" for i in range(5)])
    docs["p_eq2_b"] = ("de", big + [f"#f{i}" for i in range(5)])
    mid = [f"#m{i}" for i in range(15)]
    docs["p_lo_a"] = ("en", mid + ["#g0", "#g1"])
    docs["p_lo_b"] = ("en", mid + ["#k0", "#k1"])
    docs["p_x_a"] = ("en", ["#z0", "#z1", "#z2"])
    docs["p_x_b"] = ("de", ["#z0", "#z1", "#z2"])

    want = _expected(docs, docs, t, self_join=True)
    assert {("p_eq_a", "p_eq_b", 0.8), ("p_eq2_a", "p_eq2_b", 0.8)} <= want
    assert not {p[:2] for p in want} & {("p_lo_a", "p_lo_b"), ("p_x_a", "p_x_b")}
    assert len(want) > 10

    sets = _frame(spark, docs, ("blk",))
    pairs = (
        setsim.prefix_pairs(sets, sets, t, on=("blk",))
        .where(F.col("a") < F.col("b"))
        .where(setsim.could_reach(t))
    )
    assert _got(pairs, sets, sets, t) == want
