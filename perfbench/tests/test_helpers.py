"""Tests for the benchmark's own helpers; none of them starts Spark.

    python3 -m pytest perfbench/tests -q

from the root of the repository.
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [BENCH, os.path.dirname(BENCH)]

import medallion as M  # noqa: E402
from spans import (  # noqa: E402
    Span, latency_summary, span_counters, tail_percentile, union_length,
)
from tests.covid_fixtures import DAYS, POPULATION_ROWS, SERIES  # noqa: E402

# ------------------------------------------------------------- generator


def _days(seed: int, n: int) -> list[str]:
    world = M.World(seed)
    return [M.render_csv(i, world.day(i)) for i in range(n)]


def test_generator_is_deterministic_per_seed():
    assert _days(7, 3) == _days(7, 3)
    assert _days(7, 3) != _days(8, 3)


def test_generator_rows_repeat_for_the_same_seed():
    a, b = M.World(5), M.World(5)
    for i in range(4):
        assert a.day(i) == b.day(i)
    assert a.population == b.population


def test_generator_has_real_jhu_width_and_hazards():
    world = M.World(3)
    rows = [world.day(i) for i in range(5)]
    assert 3900 <= len(rows[1]) <= 4500
    countries = {r.region.country for r in rows[1]}
    assert len(countries) >= 195
    assert {"US", "Korea, South", "Taiwan*", M.NO_POPULATION_COUNTRY} <= countries
    assert any(r.confirmed is None for r in rows[1])
    # Both header epochs, and a quoted comma in a JHU country name.
    assert M.render_csv(0, rows[0]).startswith("Province/State,Country/Region")
    assert M.render_csv(1, rows[1]).startswith("FIPS,Admin2")
    assert '"Korea, South"' in M.render_csv(1, rows[1])
    totals = [M.country_totals(r) for r in rows]
    dec = M.normalize_country(world.decreasing)
    assert totals[3][dec][0] < totals[2][dec][0]  # day 3 is a correction day
    alerts = set()
    for i in range(1, 5):
        alerts |= M.expected_alerts_day(M.day_name(i), totals[i], totals[i - 1], world.population)
    assert alerts, "planted spikes must raise alerts"


def test_generator_refuses_out_of_order_days():
    world = M.World(1)
    with pytest.raises(ValueError):
        world.day(1)


# ----------------------------------------------------------------- model


def _fixture_rows(day_idx: int) -> list[M.Row]:
    """The golden fixture's day as generator rows (tests/covid_fixtures.py)."""
    rows = []
    for country, series in SERIES.items():
        c, d, r = series[day_idx]
        rows.append(M.Row(M.Region(country, "ProvA", "", "", 1.5, 2.5), c, d, r))
    rows.append(M.Row(M.Region("US", "ProvB", "", "", 1.5, 2.5), None, None, 50))
    return rows


def test_model_matches_golden_fixture_days():
    population = {name: pop for name, _code, year, pop in POPULATION_ROWS if year == 2021}
    totals = [M.country_totals(_fixture_rows(i)) for i in range(len(DAYS))]
    day3 = M.expected_mart_day(totals[2], totals[1], population)
    # Golden values of tests/test_covid_pipeline.py::test_mart_golden_values.
    assert set(day3) == {"United States", "Russian Federation", "France", "Germany"}
    assert day3["Germany"]["new_cases_today"] == 0
    fr = day3["France"]
    assert fr["new_cases_today"] == 200 and fr["new_deaths_today"] == 20
    assert fr["cases_per_100k"] == 54
    assert fr["risk_category"] == "Low"
    assert day3["United States"]["current_active_cases"] == 1150 - 102 - 650
    assert day3["United States"]["total_confirmed"] == 1150
    day1 = M.expected_mart_day(totals[0], None, population)
    assert all(v["new_cases_today"] == 0 for v in day1.values())

    alerts = set()
    for i, day in enumerate(DAYS):
        prev = totals[i - 1] if i else None
        alerts |= M.expected_alerts_day(day, totals[i], prev, population)
    # tests/test_covid_pipeline.py::test_alerts_expected_set
    assert alerts == {
        (DAYS[1], "France", "DEATH_RATE_POPULATION"),
        (DAYS[3], "France", "DEATH_RATE_POPULATION"),
        (DAYS[2], "France", "CASE_RATE_POPULATION"),
        (DAYS[2], "France", "DEATH_RATE_POPULATION"),
        (DAYS[2], "France", "INCIDENCE_100K"),
        (DAYS[2], "France", "DEATH_SPIKE_100K"),
    }


def test_risk_buckets_are_strictly_above_thresholds():
    assert M.risk_category(100) == "Low"
    assert M.risk_category(101) == "Medium"
    assert M.risk_category(1001) == "High"
    assert M.risk_category(5001) == "Critical"


def test_round_half_up_like_spark():
    assert M._round_half_up(2.5, 0) == 3.0
    assert M._round_half_up(0.125, 2) == 0.13
    assert M._round_half_up(-2.5, 0) == -3.0


# --------------------------------------------------------- spans and stats


def test_union_length_merges_overlaps_and_clips():
    assert union_length([], 0.0, 10.0) == 0.0
    assert union_length([(1.0, 3.0), (2.0, 5.0)], 0.0, 10.0) == 4.0
    assert union_length([(1.0, 2.0), (4.0, 6.0)], 0.0, 10.0) == 3.0
    assert union_length([(1.0, 9.0), (2.0, 3.0)], 0.0, 10.0) == 8.0
    assert union_length([(-5.0, 2.0), (8.0, 15.0)], 0.0, 10.0) == 4.0
    assert union_length([(11.0, 12.0)], 0.0, 10.0) == 0.0


def test_driver_gap_is_wall_minus_stage_union_over_subtree():
    root = Span("day", None, 100.0, end=110.0)
    child = Span("plans.raw", root, 101.0, end=105.0)
    stage = {
        "tasks": 4, "task_busy_s": 2.0, "task_cpu_s": 1.0, "shuffle_bytes": 10,
        "spill_bytes": 0, "input_bytes": 5, "skew": [1.5],
    }
    root.stages[1] = {**stage, "intervals": [(100.5, 102.0)]}
    child.stages[2] = {**stage, "intervals": [(101.5, 103.0)], "skew": [3.0]}
    root.jobs, child.jobs = {0}, {1}
    spans = [root, child]
    c = span_counters(root, spans)
    assert c["jobs"] == 2 and c["stages"] == 2 and c["tasks"] == 8
    assert c["driver_gap_s"] == pytest.approx(10.0 - 2.5)
    assert c["task_skew"] == 3.0
    c = span_counters(child, spans)
    assert c["stages"] == 1
    assert c["driver_gap_s"] == pytest.approx(4.0 - 1.5)


@pytest.mark.parametrize("n,pct", [(20, 50.0), (40, 75.0), (100, 90.0), (1000, 99.0)])
def test_tail_percentile_leaves_ten_samples_beyond(n, pct):
    assert tail_percentile(n) == pytest.approx(pct)
    assert n * (1 - tail_percentile(n) / 100) == pytest.approx(10.0)


@pytest.mark.parametrize("n", [1, 5, 10, 19])
def test_no_tail_below_twenty_samples(n):
    assert tail_percentile(n) is None
    assert latency_summary([1.0] * n)["tail"] is None


def test_latency_summary_tail_and_median():
    values = [float(v) for v in range(1, 101)]
    s = latency_summary(values)
    assert s["p50"] == 50.5 and s["n"] == 100 and s["tail_pct"] == pytest.approx(90.0)
    assert s["tail"] == pytest.approx(90.1)
    assert sum(v > s["tail"] for v in values) == 10
