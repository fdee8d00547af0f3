"""The ods, dds and mart layers run one Spark action each: their write.
What they report (rows written, NULL-key rows) is observed on that write,
so no layer may probe or count its frame in a job of its own.
Spark-free: parses the layer sources."""

from __future__ import annotations

import ast
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Helpers that run a job: is_empty, and counting helpers named *_count.
JOB_HELPERS = {"is_empty"}
# Jobs when called without arguments (F.count(col) is an aggregate).
JOB_METHODS = {"isEmpty", "count", "collect"}


@pytest.mark.parametrize("layer", ["ods", "dds", "mart"])
def test_layer_runs_only_its_write(layer):
    path = os.path.join(ROOT, "covid_data_pipeline_spark", "plans", f"{layer}.py")
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read())
    jobs = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
            bare_method = isinstance(f, ast.Attribute) and not (node.args or node.keywords)
            helper = name in JOB_HELPERS or str(name).endswith("_count")
            if helper or (bare_method and name in JOB_METHODS):
                jobs.append(f"line {node.lineno}: {name}()")
    assert jobs == [], f"plans/{layer}.py runs jobs besides its write: {jobs}"
