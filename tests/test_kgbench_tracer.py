"""The traced benchmark (`kgbench/run.py --trace 1`) wraps engine functions
by module attribute. A refactor that renames or removes one of them must
fail here, not crash a traced run."""

from __future__ import annotations

import ast
import importlib.util
import os

RUN_PY = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "kgbench", "run.py"
)


class _StubTracer:
    def __init__(self):
        self.wrapped = []

    def wrap(self, module, attr, layer, after=None):
        assert callable(getattr(module, attr)), f"{module.__name__}.{attr}"
        self.wrapped.append(f"{module.__name__}.{attr}")


def test_link_tracer_targets_exist():
    spec = importlib.util.spec_from_file_location("kgbench_run", RUN_PY)
    run = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(run)
    tracer = _StubTracer()
    run.install_link_tracer(tracer)
    assert "wikidata_wikifier_spark.operators.candidates.label_candidates" in tracer.wrapped


def test_dedup_entry_points_exist():
    """run.py calls the dedup operators by name inside run_dedup; each
    `dedup.<name>` it reads must exist on operators.dedup."""
    from wikidata_wikifier_spark.operators import dedup

    with open(RUN_PY) as f:
        tree = ast.parse(f.read())
    names = {
        node.attr
        for node in ast.walk(tree)
        if isinstance(node, ast.Attribute)
        and isinstance(node.value, ast.Name)
        and node.value.id == "dedup"
    }
    assert {"exact_duplicates", "minhash_lsh_pairs", "simhash_pairs", "ngram_jaccard_pairs"} <= names
    for name in names:
        assert callable(getattr(dedup, name, None)), f"operators.dedup.{name}"
