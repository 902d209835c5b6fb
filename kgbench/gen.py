"""Seeded benchmark inputs with planted truth.

Every input is generated in plain Python and written with pyarrow, before
any Spark session exists, so generation never falls inside a timed region.
The output of one (workload, seed) is cached on disk: a second run with the
same seed reuses it.

The link workload gets a source-repo corpus, an entity index, sameAs alias edges
and the golden (repo, path, qnode) links. The corpus comes from
`datagen.source_repo_rows`, whose label placement is drawn from a RandomState
seeded by `seed`, so a new seed changes which labels land in which files.
(`datagen.distributed_source_repos_df` derives its labels from the file id
alone and would give every seed the same corpus.)

The dedup workload gets documents in which some originals have planted
exact copies (same words, other case and spacing) and near copies (a few
words substituted). The truth is the set of document pairs that share an
original.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from wikidata_wikifier_spark import datagen

ENTITY_ARROW = pa.schema(
    [
        ("qnode", pa.string()),
        ("label", pa.string()),
        ("aliases", pa.list_(pa.string())),
        ("description", pa.string()),
        ("pagerank", pa.float64()),
        ("class", pa.string()),
        ("embedding", pa.list_(pa.float32())),
        ("class_count", pa.map_(pa.string(), pa.int32())),
        ("property_count", pa.map_(pa.string(), pa.int32())),
        (
            "context_arr",
            pa.list_(
                pa.struct(
                    [("property", pa.string()), ("value", pa.string()), ("vtype", pa.string())]
                )
            ),
        ),
    ]
)
SOURCE_ARROW = pa.schema(
    [(c, pa.string()) for c in ("repo", "path", "commit", "lang", "content")]
)
DOC_ARROW = pa.schema([("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string())])


def _write(rows: list[dict], schema: pa.Schema, path: str, n_files: int = 1) -> None:
    os.makedirs(path, exist_ok=True)
    step = -(-len(rows) // n_files)
    for i in range(n_files):
        chunk = rows[i * step : (i + 1) * step]
        if chunk:
            pq.write_table(
                pa.Table.from_pylist(chunk, schema=schema),
                os.path.join(path, f"part-{i:05d}.parquet"),
            )


class _ListSession:
    """Stands in for a SparkSession so datagen's list-building recipes can
    run without Spark: createDataFrame hands back the rows it is given."""

    @staticmethod
    def createDataFrame(rows, schema=None):  # noqa: N802 - SparkSession's name
        return rows


def alias_edges(n_entities: int) -> list[tuple[str, str]]:
    """The sameAs edges of `datagen.alias_edges_df`: Q0..Q49 chained, a
    5-cycle and pairs. The list is the fixture's own and is not seeded: over
    a chain of shuffled qnodes `connected_components` needs more rounds, and
    its per-round `localCheckpoint` then spends minutes in Spark's plan
    statistics (BigInteger products that grow with every round)."""
    return [tuple(e) for e in datagen.alias_edges_df(_ListSession(), n_entities)]


def link_inputs(path: str, n_repos: int, n_entities: int, seed: int, n_parts: int) -> dict:
    source, golden = datagen.source_repo_rows(n_repos, n_entities, seed)
    _write(source, SOURCE_ARROW, os.path.join(path, "source"), n_parts)
    _write(datagen.entity_rows(n_entities, seed), ENTITY_ARROW, os.path.join(path, "index"))
    edges = alias_edges(n_entities)
    _write(
        [{"src": s, "dst": d} for s, d in edges],
        pa.schema([("src", pa.string()), ("dst", pa.string())]),
        os.path.join(path, "edges"),
    )
    # golden links keyed the way the triple sink writes its object column
    sha = {
        (r["repo"], r["path"]): hashlib.sha256(r["content"].encode()).hexdigest()
        for r in source
    }
    gold = sorted(
        {
            (f"{g['repo']}:{g['path']}@{sha[(g['repo'], g['path'])]}", g["qnode"])
            for g in golden
        }
    )
    return {"files": len(source), "entities": n_entities, "edges": edges, "golden": gold}


def _words(rng: np.random.RandomState, n: int) -> list[str]:
    syl = ["ka", "lo", "mi", "ne", "ru", "sa", "to", "vi", "ze", "po", "da", "fe", "gu", "hi"]
    words: set[str] = set()
    while len(words) < n:
        words.add("".join(rng.choice(syl, size=rng.randint(2, 5))))
    return sorted(words)


def dedup_inputs(path: str, n_docs: int, seed: int, n_parts: int) -> dict:
    """About n_docs documents: a tenth of the originals get an exact copy,
    another tenth a near copy (3 of 60-100 words substituted), the rest
    are unique. The counts are fixed; the seed picks the words."""
    rng = np.random.RandomState(seed)
    vocab = _words(rng, 4000)
    langs = ["en", "de", "es", "fr", "zh"]
    docs: list[dict] = []
    families: dict[str, list] = {"exact": [], "near": []}

    def add(text: str, lang: str) -> int:
        docs.append({"doc_id": len(docs), "text": text, "lang": lang})
        return len(docs) - 1

    n_orig = n_docs * 5 // 6
    n_fam = n_orig // 10
    for i in range(n_orig):
        words = list(rng.choice(vocab, size=rng.randint(60, 100)))
        lang = langs[rng.randint(len(langs))]
        orig = add(" ".join(words), lang)
        if i < n_fam:
            copy = "  ".join(w.upper() if j % 7 == 0 else w for j, w in enumerate(words))
            families["exact"].append((orig, add(copy, lang)))
        elif i < 2 * n_fam:
            near = list(words)
            for j in rng.choice(len(near), size=3, replace=False):
                near[j] = vocab[rng.randint(len(vocab))]
            families["near"].append((orig, add(" ".join(near), lang)))
    order = rng.permutation(len(docs))
    new_id = {int(old): new for new, old in enumerate(order)}
    docs = [dict(docs[int(old)], doc_id=new) for new, old in enumerate(order)]
    _write(docs, DOC_ARROW, os.path.join(path, "docs"), n_parts)
    truth = {
        kind: sorted(tuple(sorted((new_id[a], new_id[b]))) for a, b in pairs)
        for kind, pairs in families.items()
    }
    return {"docs": len(docs), **truth}


def inputs(cache_dir: str, workload: str, seed: int, shape: dict) -> tuple[str, dict]:
    """Generate (or reuse) the inputs of one workload and seed. Returns the
    input directory and its truth record."""
    key = hashlib.md5(json.dumps(shape, sort_keys=True).encode()).hexdigest()[:8]
    path = os.path.join(cache_dir, f"{workload}-{seed}-{key}")
    meta = os.path.join(path, "truth.json")
    if os.path.exists(meta):
        with open(meta) as f:
            return path, json.load(f)
    tmp = path + f".tmp{os.getpid()}"
    if shape["kind"] == "dedup":
        truth = dedup_inputs(tmp, shape["docs"], seed, shape["parts"])
    else:
        truth = link_inputs(tmp, shape["repos"], shape["entities"], seed, shape["parts"])
    with open(os.path.join(tmp, "truth.json"), "w") as f:
        json.dump(truth, f)
    os.replace(tmp, path)
    with open(meta) as f:
        return path, json.load(f)
