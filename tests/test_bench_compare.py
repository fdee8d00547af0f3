"""bench.py's record comparison, Spark-free: replaying a committed run's
timings against the records it was compared with must reproduce that
run's committed vs_prev / vs_r1 / vs_idle blocks exactly."""

from __future__ import annotations

import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import bench  # noqa: E402


@pytest.mark.parametrize(
    "block, record, fields",
    [
        ("vs_prev", "BENCH_full_r10.json", bench.VS_PREV_FIELDS),
        ("vs_r1", "BENCH_r01.json", bench.VS_R1_FIELDS),
        ("vs_idle", "BENCH_full_r10.json", bench.VS_IDLE_FIELDS),
    ],
)
def test_compare_reproduces_r11_blocks(block, record, fields):
    with open(os.path.join(ROOT, "BENCH_full_r11.json")) as f:
        r11 = json.load(f)
    rec = bench._parse_bench_record(os.path.join(ROOT, record))
    got = bench.compare_to_record(
        r11["queries"], r11["sf"], r11["methodology"], record, rec, fields
    )
    assert got == r11[block]


def test_compare_flags_methodology_and_skips_other_scale():
    rec = {"sf": 0.1, "methodology": "old", "queries": {"a": 2.0, "b": 0.0}}
    timings = {"a": 1.0, "b": 1.0, "c": 1.0}
    got = bench.compare_to_record(timings, 0.1, "new", "R.json", rec, bench.VS_PREV_FIELDS)
    assert got == {"file": "R.json", "geomean": 0.5, "ratios": {"a": 0.5},
                   "cross_methodology": True}
    other_sf = bench.compare_to_record(timings, 0.01, "old", "R.json", rec, bench.VS_PREV_FIELDS)
    assert other_sf is None
