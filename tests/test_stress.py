"""Multi-million-row stress cases, one test per entry of
``tools/stress_report.py::CASES`` — the single stress case table; this
file holds no case of its own.

Skipped unless SPARK_GRAFT_STRESS=1: they need ~16 GB driver memory and
minutes of CPU, and the correctness they guard (partitioning invariance
and AQE stability at sizes where sf0.01 hides bugs — e.g. the round-2
global-rank corruption that only appeared at 16M rows) is re-checked
per round, not per commit. Run:

    SPARK_GRAFT_STRESS=1 python -m pytest tests/test_stress.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

pytestmark = pytest.mark.skipif(
    os.environ.get("SPARK_GRAFT_STRESS") != "1",
    reason="stress tests run per-round via SPARK_GRAFT_STRESS=1",
)

TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
sys.path.insert(0, TOOLS)
import stress_report  # noqa: E402


@pytest.fixture(scope="module")
def big_spark():
    from covid_data_pipeline_spark.session import get_spark

    return get_spark(app_name="stress", driver_memory="16g")


@pytest.mark.parametrize("name", list(stress_report.CASES))
def test_stress_case(big_spark, name):
    result = stress_report.CASES[name](big_spark)
    assert result["ok"], json.dumps(result, indent=1, default=str)
