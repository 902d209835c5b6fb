"""Context wiring in the source-code pipeline: file co-mention context
scored against the index's typed property arrays (context_match_array at
label level) must BREAK LABEL AMBIGUITY — two entities share the label
"cold widget"; the one whose context_arr names a co-mentioned label wins
rank 1 even though the plain tie-break (qnode ascending) favors the other.
Also pins the per-label co-mention aggregation itself, and the identifier
split that turns code identifiers into labels.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from wikidata_wikifier_spark.operators.mentions import detect_mentions, label_context
from wikidata_wikifier_spark.pipeline import wikify
from wikidata_wikifier_spark.schemas import ENTITY_INDEX, SOURCE_REPOS

PY_FILE = '''"""Utilities for cold widget."""

def make_widgets(n):
    return 'cold widget'

def make_anvils(n):
    return 'iron anvil'
'''


def _index_rows():
    base = {
        "aliases": None,
        "description": "an entity",
        "pagerank": 1.0,
        "class": "tool",
        "embedding": [1.0, 0.0, 0.0, 0.0],
        "class_count": {"tool": 1},
        "property_count": {"P_rel": 1},
    }
    return [
        # Q900 sorts FIRST: without context the qnode-asc tie-break picks
        # it — only a genuine context signal can flip the ranking to Q901
        {
            **base,
            "qnode": "Q900",
            "label": "cold widget",
            "aliases": ["cold widget"],
            "context_arr": [
                {"property": "P_rel", "value": "stone crank", "vtype": "string"}
            ],
        },
        {
            **base,
            "qnode": "Q901",
            "label": "cold widget",
            "aliases": ["cold widget"],
            "context_arr": [
                {"property": "P_rel", "value": "iron anvil", "vtype": "string"}
            ],
        },
        {
            **base,
            "qnode": "Q902",
            "label": "iron anvil",
            "aliases": ["iron anvil"],
            "context_arr": [
                {"property": "P_rel", "value": "cold widget", "vtype": "string"}
            ],
        },
    ]


@pytest.fixture(scope="module")
def ambiguous(spark):
    source = spark.createDataFrame(
        [
            {
                "repo": "org0/ctx",
                "path": "src/a.py",
                "commit": "c0",
                "lang": "python",
                "content": PY_FILE,
            }
        ],
        SOURCE_REPOS,
    )
    index = spark.createDataFrame(_index_rows(), ENTITY_INDEX)
    return source, index


def test_identifier_number_is_a_word(spark):
    # without the letter→digit split the label is "small spring366", which
    # links to "small spring" instead of "small spring 366"
    java = "public class Spring {\n  public String getSmallSpring366() { return null; }\n}\n"
    source = spark.createDataFrame(
        [{"repo": "r", "path": "Spring.java", "commit": "c", "lang": "java", "content": java}],
        SOURCE_REPOS,
    )
    m = detect_mentions(source, with_context=False)
    assert [r["label_clean"] for r in m.collect()] == ["small spring 366"]


def test_label_context_top_tokens(spark, ambiguous):
    source, _ = ambiguous
    m = detect_mentions(source, with_context=False)
    ctx = {
        r["label_clean"]: r["context"]
        for r in label_context(m).collect()
    }
    # "iron anvil" co-occurs with "cold widget" in the same file
    assert "iron anvil" in ctx["cold widget"].split("|")
    assert "cold widget" in ctx["iron anvil"].split("|")
    # a label is never its own context token
    assert "cold widget" not in ctx["cold widget"].split("|")


def test_context_breaks_label_tie(spark, ambiguous):
    source, index = ambiguous
    links = wikify(source, index, k=1)
    top = (
        links.where(F.col("label_clean") == "cold widget")
        .select("qnode")
        .distinct()
        .collect()
    )
    assert [r["qnode"] for r in top] == ["Q901"], (
        "co-mention 'iron anvil' matches Q901's context_arr — context must "
        "out-rank the qnode-asc tie-break"
    )


def test_without_context_tiebreak_wins(spark, ambiguous):
    source, index = ambiguous
    # same index minus the context column → every context feature scores
    # 0 → plain deterministic tie-break (qnode asc) picks Q900, proving the
    # flip in test_context_breaks_label_tie came from the context feature
    links = wikify(source, index.drop("context_arr"), k=1)
    top = (
        links.where(F.col("label_clean") == "cold widget")
        .select("qnode")
        .distinct()
        .collect()
    )
    assert [r["qnode"] for r in top] == ["Q900"]


def test_label_context_hot_file_capped(spark):
    """A generated mega-file (thousands of distinct labels in ONE file)
    must not quadratically explode the co-occurrence pair build: the
    per-file set is capped at CTX_MAX_FILE_LABELS lexicographically-first
    labels before the explode, and ordinary files are unaffected."""
    from wikidata_wikifier_spark.operators.mentions import (
        CTX_MAX_FILE_LABELS,
        label_context,
    )

    n_hot = 2500
    labels = [f"hot label {i:05d}" for i in range(n_hot)]
    rows = [
        {"repo": "org0/mega", "path": "bundle.js", "label_clean": lab}
        for lab in labels
    ]
    # plus one ordinary file whose context must stay byte-identical
    rows += [
        {"repo": "org0/ok", "path": "a.py", "label_clean": lab}
        for lab in ("cold widget", "iron anvil", "stone crank")
    ]
    m = spark.createDataFrame(rows, "repo string, path string, label_clean string")

    capped = label_context(m)
    got = {r["label_clean"]: r["context"] for r in capped.collect()}

    # only the lexicographically-first CTX_MAX_FILE_LABELS hot labels
    # survive the cap → bounded pair count (≤ cap², not n_hot²)
    hot_with_ctx = [l for l in got if l.startswith("hot label")]
    assert len(hot_with_ctx) == CTX_MAX_FILE_LABELS
    assert sorted(hot_with_ctx) == sorted(labels)[:CTX_MAX_FILE_LABELS]

    # the ordinary file's context is unaffected by the hot file
    assert sorted(got["cold widget"].split("|")) == ["iron anvil", "stone crank"]
    assert sorted(got["iron anvil"].split("|")) == ["cold widget", "stone crank"]

    # raising the cap above the file size restores the uncapped behavior
    uncapped = label_context(m, max_file_labels=10_000)
    assert uncapped.where(
        uncapped.label_clean.startswith("hot label")
    ).count() == n_hot


def test_relevant_properties_restriction_flips_ranking(spark):
    """--use-relevant-properties (wikifier.py:187-189): pass-1 context ties
    (both entities' context_arr matches a co-mention), but the noise
    property matches for <50% of HC candidates while P_rel matches for
    all of them — so pass 2 restricts to P_rel, the noise-only entity
    drops to context_score_3 = 0, and the ranking flips AWAY from the
    qnode-asc tie-break winner. With the old context_score_3 ≡
    context_score alias, Q900 would win on the tie-break."""
    from wikidata_wikifier_spark.schemas import ENTITY_INDEX, SOURCE_REPOS

    content = '''"""Workshop inventory."""

def use_things(n):
    return 'cold widget' + 'iron anvil' + 'stone crank'
'''
    source = spark.createDataFrame(
        [{"repo": "org0/rel", "path": "w.py", "commit": "c0",
          "lang": "python", "content": content}],
        SOURCE_REPOS,
    )
    base = {
        "description": "an entity", "pagerank": 1.0, "class": "tool",
        "embedding": [1.0, 0.0, 0.0, 0.0], "class_count": {"tool": 1},
        "property_count": {"P_rel": 1},
    }
    ents = [
        # Q900 sorts first: only the restriction can beat the tie-break.
        # pass 1: P_noise value matches the co-mention → score 1.0
        {**base, "qnode": "Q900", "label": "cold widget",
         "aliases": ["cold widget"],
         "context_arr": [
             {"property": "P_noise", "value": "iron anvil", "vtype": "string"}]},
        {**base, "qnode": "Q901", "label": "cold widget",
         "aliases": ["cold widget"],
         "context_arr": [
             {"property": "P_rel", "value": "iron anvil", "vtype": "string"}]},
        # HC one-candidate labels fixing the rates: P_rel matches 3/3 HC
        # rows → relevant; P_noise matches 1/3 → dropped
        {**base, "qnode": "Q902", "label": "iron anvil",
         "aliases": ["iron anvil"],
         "context_arr": [
             {"property": "P_rel", "value": "stone crank", "vtype": "string"},
             {"property": "P_noise", "value": "xxxx yyyy", "vtype": "string"}]},
        {**base, "qnode": "Q903", "label": "stone crank",
         "aliases": ["stone crank"],
         "context_arr": [
             {"property": "P_rel", "value": "iron anvil", "vtype": "string"},
             {"property": "P_noise", "value": "aaaa bbbb", "vtype": "string"}]},
    ]
    index = spark.createDataFrame(ents, ENTITY_INDEX)
    links = wikify(source, index, k=1)
    top = links.where(F.col("label_clean") == "cold widget").select(
        "qnode").distinct().collect()
    assert [r["qnode"] for r in top] == ["Q901"], (
        "pass-1 scores tie at 1.0; only the relevant-property restriction "
        "(P_noise irrelevant → Q900's context_score_3 = 0) flips rank 1"
    )
