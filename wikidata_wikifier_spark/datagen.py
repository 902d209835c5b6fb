"""Deterministic synthetic fixtures: source-repo table + entity index +
alias edges + golden links (FIXTURES.md §§1-6).

Everything is seeded (numpy RandomState) and generated driver-side as
plain Python lists → spark.createDataFrame, so goldens are reproducible
across runs and parallelism levels. Shapes mirror the reference's sample
tables (wikifier/sample_files/*.csv: multi-word person/club/country names)
without copying any data.

Skew is planted on purpose: one "mega-repo" holds ~30% of all files and
one head entity label appears in many files (exercises AQE skew-join and
salting paths per north_rule).
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import DataFrame, SparkSession

ADJ = [
    "cold", "hot", "red", "blue", "green", "small", "large", "old", "new",
    "fast", "slow", "dark", "light", "iron", "stone",
]
NOUN = [
    "widget", "gizmo", "anvil", "bolt", "gear", "ring", "rod", "plate",
    "lever", "spring", "valve", "crank", "pulley", "shaft", "bearing",
]
CLASSES = ["tool", "fastener", "machine", "material", "instrument"]
LANGS = ["python", "java", "js", "md"]

EMB_DIM = 16


def entity_rows(n_entities: int = 200, seed: int = 42) -> list[dict]:
    rng = np.random.RandomState(seed)
    rows = []
    for i in range(n_entities):
        label = f"{ADJ[i % len(ADJ)]} {NOUN[(i // len(ADJ)) % len(NOUN)]}"
        if i >= len(ADJ) * len(NOUN):
            label = f"{label} {i}"
        cls = CLASSES[i % len(CLASSES)]
        # class-clustered embeddings with planted outliers for LOF
        center = np.zeros(EMB_DIM)
        center[CLASSES.index(cls)] = 2.0
        emb = center + rng.randn(EMB_DIM) * 0.15
        if i % 37 == 0:
            emb = emb + 3.0  # outlier
        aliases = [label, f"the {label}", label.replace(" ", "-")]
        if i % 11 == 0:
            aliases.append(f"{label.split()[0]} thing")  # shared-ish alias
        # multi-valued class/property count maps (reference aux
        # class_count/property_count, wikifier/wikifier.py:24): the primary
        # class plus deterministic secondary classes; property ids whose
        # presence varies per entity so the property TF-IDF has signal
        class_count = {cls: (i % 4) + 1}
        if i % 2 == 0:
            class_count["artifact"] = 1
        if i % 5 == 0:
            class_count[f"sub{i % 7}"] = (i % 3) + 1
        property_count = {"P_made_of": (i % 5) + 1, "P31": len(class_count)}
        if i % 3 == 0:
            property_count["P_color"] = 1
        if i % 4 == 0:
            property_count["P_use"] = 2
        rows.append(
            {
                "qnode": f"Q{i}",
                "label": label,
                "aliases": aliases,
                "description": f"a {cls} called {label}",
                "pagerank": float(round(float(rng.pareto(2.0) + 0.05), 6)),
                "class": cls,
                "embedding": [float(round(float(x), 6)) for x in emb],
                "class_count": class_count,
                "property_count": property_count,
                "context_arr": [
                    {"property": "P31", "value": cls, "vtype": "string"}
                ],
            }
        )
    return rows


def entity_index_df(spark: SparkSession, n_entities: int = 200, seed: int = 42) -> DataFrame:
    from .schemas import ENTITY_INDEX

    return spark.createDataFrame(entity_rows(n_entities, seed), ENTITY_INDEX)


def _python_file(planted: list[str], fname: str) -> str:
    lines = [f'"""Utilities for {planted[0]}."""', "", "import os", ""]
    for i, label in enumerate(planted):
        ident = label.replace(" ", "_")
        lines += [
            f"def make_{ident}(n):",
            f'    """Build a {label} instance."""',
            f"    {ident}_count = n + {i}",
            f"    return '{label}'",
            "",
        ]
    lines.append(f"# end of {fname}")
    return "\n".join(lines)


def _java_file(planted: list[str], fname: str) -> str:
    lines = [f"/** Service for {planted[0]}. */", f"public class {fname.title().replace('.', '')} {{"]
    for label in planted:
        ident = "".join(w.title() for w in label.split())
        lines += [
            f"  /** Returns the {label}. */",
            f'  public String get{ident}() {{ return "{label}"; }}',
        ]
    lines.append("}")
    return "\n".join(lines)


def _js_file(planted: list[str], fname: str) -> str:
    lines = [f"// module {fname}"]
    for label in planted:
        ident = label.replace(" ", "_")
        lines += [
            f"/** fetch the {label} */",
            f'export const {ident} = () => "{label}";',
        ]
    return "\n".join(lines)


def _md_file(planted: list[str], fname: str) -> str:
    lines = [f"# {fname}", ""]
    for label in planted:
        lines.append(f"This document describes the **{label}** component.")
    return "\n".join(lines)


_MAKERS = {"python": _python_file, "java": _java_file, "js": _js_file, "md": _md_file}


def source_repo_rows(
    n_repos: int = 40,
    n_entities: int = 200,
    seed: int = 42,
) -> tuple[list[dict], list[dict]]:
    """Returns (source_rows, golden_rows).

    golden: one row per planted (repo, path, label → qnode) mention.
    """
    rng = np.random.RandomState(seed + 1)
    entities = entity_rows(n_entities, seed)
    source, golden = [], []
    head = entities[0]  # head entity planted everywhere (skew)
    for r in range(n_repos):
        repo = f"org{r % 7}/repo{r}"
        # mega-repo 0 gets ~10x the files
        n_files = 30 if r == 0 else max(2, int(rng.poisson(4)))
        for fidx in range(n_files):
            lang = LANGS[(r + fidx) % len(LANGS)]
            ext = {"python": "py", "java": "java", "js": "js", "md": "md"}[lang]
            fname = f"src/file_{fidx}.{ext}"
            picks = [entities[int(i)] for i in rng.choice(len(entities), size=3, replace=False)]
            if fidx % 4 == 0:
                picks[2] = head
            labels = [p["label"] for p in picks]
            content = _MAKERS[lang](labels, f"file_{fidx}")
            commit = hashlib.sha1(f"{repo}/{fname}@{seed}".encode()).hexdigest()
            if fidx % 19 == 18:
                content = ""  # empty-content edge case
            source.append(
                {
                    "repo": repo,
                    "path": fname,
                    "commit": commit,
                    "lang": lang,
                    "content": content,
                }
            )
            if content:
                for p, label in zip(picks, labels):
                    golden.append(
                        {
                            "repo": repo,
                            "path": fname,
                            "label_clean": label,
                            "qnode": p["qnode"],
                        }
                    )
    return source, golden


def source_repos_df(
    spark: SparkSession, n_repos: int = 40, n_entities: int = 200, seed: int = 42
) -> tuple[DataFrame, DataFrame]:
    from .schemas import SOURCE_REPOS

    src, golden = source_repo_rows(n_repos, n_entities, seed)
    gdf = spark.createDataFrame(golden, "repo string, path string, label_clean string, qnode string")
    return spark.createDataFrame(src, SOURCE_REPOS), gdf.dropDuplicates()


def alias_edges_df(spark: SparkSession, n_entities: int = 200) -> DataFrame:
    """sameAs edges between qnodes: chains, a cycle, singletons, and one
    large component (FIXTURES.md §6)."""
    edges = []
    # large component: Q0..Q49 chained
    edges += [(f"Q{i}", f"Q{i+1}") for i in range(0, 49)]
    # cycle
    edges += [(f"Q{i}", f"Q{(i + 1 - 60) % 5 + 60}") for i in range(60, 65)]
    # pairs
    edges += [(f"Q{i}", f"Q{i+1}") for i in range(70, min(90, n_entities - 1), 2)]
    return spark.createDataFrame(edges, "src string, dst string")
