"""Every entry point builds its SparkSession through session.get_spark,
so scripts, examples and the bench run the engine's own defaults.
Spark-free: scans the tracked Python sources."""

from __future__ import annotations

import os
import re
import subprocess

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# tools/driver_mirror.py copies the external driver's vanilla session.
ALLOWED = {"covid_data_pipeline_spark/session.py", "tools/driver_mirror.py"}
BUILDER = re.compile(r"SparkSession\s*\.\s*builder")


def test_session_builder_only_in_session_factory():
    sources = subprocess.run(
        ["git", "ls-files", "*.py"], cwd=ROOT, check=True,
        capture_output=True, text=True,
    ).stdout.split()
    assert "bench.py" in sources
    offenders = []
    for rel in sources:
        if rel not in ALLOWED:
            with open(os.path.join(ROOT, rel), encoding="utf-8") as f:
                if BUILDER.search(f.read()):
                    offenders.append(rel)
    assert offenders == [], (
        f"build sessions with session.get_spark, not a builder chain: {offenders}"
    )
