"""Seeded JHU-style daily CSVs and a plain-Python model of what the
medallion chain must produce from them.

The generator builds one synthetic "world" per seed at real JHU width:
about 200 reporting countries and about 4,000 province/county rows per
day (the US alone reports ~3,000 counties). Each day file carries the
hazards the pipeline is built for:

- both header epochs (the 2020 8-column form on every fourth day, the
  14-column form otherwise);
- JHU country names that the ods layer must normalize (``US``,
  ``Korea, South``, ``Taiwan*`` ...), quoted where they hold a comma;
- "Unassigned" rows with NULL counters;
- one country whose cumulative confirmed count goes down on a data
  correction day (the mart clamps the delta, alerts skip it);
- one reporting country with no population row (fact keeps it with a
  NULL key, mart and alerts drop it);
- planted case/death spikes large enough to cross the alert thresholds,
  over a baseline that stays below them.

The model (:func:`expected_mart_day`, :func:`expected_alerts_day`) is
written from the reference semantics, not from the engine's code: it
sums the generated rows per normalized country, applies the mart's LAG
delta clamp, per-100k and risk CASE, and the four alert predicates. It
shares no code with ``covid_data_pipeline_spark``.
"""

from __future__ import annotations

import csv
import io
import math
import random
from dataclasses import dataclass
from datetime import date, timedelta
from decimal import ROUND_HALF_UP, Decimal

FIRST_DAY = date(2021, 1, 1)
POPULATION_YEARS = (2020, 2021, 2022)
# Days stay inside FIRST_DAY's year so every (country, year) surrogate
# key, and with it each alert LAG partition, is one per country.
MAX_DAYS = 365

# JHU → World-Bank country naming (reference process_covid_ods.py:42-59).
JHU_TO_WORLD_BANK = {
    "US": "United States",
    "Korea, South": "Korea, Rep.",
    "Taiwan*": "Taiwan",
    "Hong Kong": "Hong Kong SAR, China",
    "Iran (Islamic Republic of)": "Iran, Islamic Rep.",
    "Iran": "Iran, Islamic Rep.",
    "Russia": "Russian Federation",
    "Mainland China": "China",
    "Turkey": "Turkiye",
    "Vietnam": "Viet Nam",
    "Burma": "Myanmar",
    "Slovakia": "Slovak Republic",
    "Kyrgyzstan": "Kyrgyz Republic",
    "Egypt": "Egypt, Arab Rep.",
    "Venezuela": "Venezuela, RB",
}
NO_POPULATION_COUNTRY = "Atlantis"
ZERO_POPULATION_COUNTRY = "Nullland"  # population row only, never reports

# Reference thresholds (process_covid_data_mart.py:106-111, alert_*.sql).
RISK_THRESHOLDS = ((5000, "Critical"), (1000, "High"), (100, "Medium"))
CASE_RATE_THRESHOLD = 0.00005
DEATH_RATE_THRESHOLD = 0.0000005
INCIDENCE_100K_THRESHOLD = 10.0
DEATHS_100K_THRESHOLD = 1.0

EARLY_HEADER = (
    "Province/State", "Country/Region", "Last Update", "Confirmed",
    "Deaths", "Recovered", "Latitude", "Longitude",
)
LATE_HEADER = (
    "FIPS", "Admin2", "Province_State", "Country_Region", "Last_Update",
    "Lat", "Long_", "Confirmed", "Deaths", "Recovered", "Active",
    "Combined_Key", "Incident_Rate", "Case_Fatality_Ratio",
)

US_COUNTIES = 3000
PROVINCE_COUNTRIES = 30  # countries reporting 10-60 provinces each
SYNTHETIC_COUNTRIES = 180
SPIKES_PER_DAY = 3
NULL_ROWS_PER_DAY = 12


@dataclass(frozen=True)
class Region:
    country: str  # as reported (JHU naming)
    province: str
    admin2: str
    fips: str
    lat: float
    lon: float


@dataclass(frozen=True)
class Row:
    """One CSV data row; a counter is None when the file leaves it empty."""

    region: Region
    confirmed: int | None
    deaths: int | None
    recovered: int | None


def day_name(i: int) -> str:
    return (FIRST_DAY + timedelta(days=i)).isoformat()


def normalize_country(name: str) -> str:
    return JHU_TO_WORLD_BANK.get(name, name)


class World:
    """The seeded country/province layout and cumulative counters.

    ``day(i)`` must be called for i = 0, 1, 2, ... in order: counters are
    cumulative, so each day advances the previous day's state. Every
    random draw for day i comes from an RNG keyed on (seed, i), so the
    rows of day i depend on the seed and i alone.
    """

    def __init__(self, seed: int):
        self.seed = seed
        rng = random.Random(f"world:{seed}")
        reported = list(JHU_TO_WORLD_BANK)
        reported += [f"Land {k:03d}" for k in range(SYNTHETIC_COUNTRIES)]
        reported.append(NO_POPULATION_COUNTRY)
        rng.shuffle(reported)
        self.reported = reported

        # Population per normalized name, log-uniform 200k .. 300M; the
        # two JHU spellings of Iran share one row.
        self.population: dict[str, int] = {}
        for name in reported:
            norm = normalize_country(name)
            if name != NO_POPULATION_COUNTRY and norm not in self.population:
                self.population[norm] = int(math.exp(rng.uniform(math.log(2e5), math.log(3e8))))
        self.population["United States"] = 330_000_000
        self.population[ZERO_POPULATION_COUNTRY] = 0

        multi = [c for c in reported if c not in ("US", NO_POPULATION_COUNTRY)]
        rng.shuffle(multi)
        n_provinces = {c: rng.randint(10, 60) for c in multi[:PROVINCE_COUNTRIES]}

        self.regions: list[Region] = []
        for name in reported:
            if name == "US":
                for k in range(US_COUNTIES):
                    self.regions.append(Region(
                        name, f"State {k % 50:02d}", f"County {k:04d}",
                        str(1000 + k), round(rng.uniform(25, 49), 4),
                        round(rng.uniform(-124, -67), 4),
                    ))
            else:
                lat, lon = round(rng.uniform(-50, 60), 4), round(rng.uniform(-170, 170), 4)
                for k in range(n_provinces.get(name, 1)):
                    province = f"Province {k:02d}" if name in n_provinces else ""
                    self.regions.append(Region(name, province, "", "", lat, lon))

        # Each region's share of its country's reported population, and
        # its starting cumulative counters.
        by_country: dict[str, list[int]] = {}
        for idx, r in enumerate(self.regions):
            by_country.setdefault(r.country, []).append(idx)
        self.share = [0.0] * len(self.regions)
        for name, idxs in by_country.items():
            weights = [rng.uniform(0.2, 1.0) for _ in idxs]
            total = sum(weights)
            for idx, w in zip(idxs, weights):
                self.share[idx] = w / total
        # Per-country daily case rate; the baseline stays below both
        # case thresholds (rate 5e-5, incidence 10 per 100k) and both
        # death thresholds (5e-7, 1 per 100k).
        self.case_rate = {n: rng.uniform(1e-6, 1.5e-5) for n in reported}
        self.decreasing = rng.choice(
            [c for c in reported if c not in ("US", NO_POPULATION_COUNTRY)]
        )
        self._cum = [
            [int(self._reported_pop(r) * self.share[idx] * rng.uniform(0.01, 0.05)), 0, 0]
            for idx, r in enumerate(self.regions)
        ]
        for c in self._cum:
            c[1] = c[0] // 60
            c[2] = c[0] // 2
        self._next_day = 0

    def _reported_pop(self, region: Region) -> int:
        # Atlantis has no population row but still reports cases.
        return self.population.get(normalize_country(region.country), 1_000_000)

    def day(self, i: int) -> list[Row]:
        if i != self._next_day:
            raise ValueError(f"days must be generated in order: want {self._next_day}, got {i}")
        if i >= MAX_DAYS:
            raise ValueError(f"day {i} leaves {FIRST_DAY.year}")
        self._next_day += 1
        rng = random.Random(f"day:{self.seed}:{i}")
        spikes = set(rng.sample(self.reported, SPIKES_PER_DAY)) if i else set()
        correction = i % 5 == 3
        if i:
            for idx, r in enumerate(self.regions):
                pop = self._reported_pop(r) * self.share[idx]
                rate = self.case_rate[r.country]
                boost = 60.0 if r.country in spikes else 1.0
                new_cases = int(pop * rate * boost * rng.uniform(0.5, 1.5))
                new_deaths = int(new_cases * rng.uniform(0.005, 0.02) * (3.0 if boost > 1 else 1.0))
                cum = self._cum[idx]
                cum[0] += new_cases
                cum[1] += new_deaths
                cum[2] += int(new_cases * rng.uniform(0.3, 0.6))
                if correction and r.country == self.decreasing:
                    cum[0] = max(0, cum[0] - max(50, cum[0] // 20))
        rows = [Row(r, c[0], c[1], c[2]) for r, c in zip(self.regions, self._cum)]
        for k in range(NULL_ROWS_PER_DAY):
            country = self.reported[rng.randrange(len(self.reported))]
            region = Region(country, f"Unassigned {k}", "Unassigned", "", 0.0, 0.0)
            recovered = rng.choice([None, rng.randint(0, 50)])
            rows.append(Row(region, None, None, recovered))
        return rows


def early_epoch(i: int) -> bool:
    return i % 4 == 0


def render_csv(i: int, rows: list[Row]) -> str:
    """Day i's rows as a JHU daily-report CSV in that day's header epoch."""
    out = io.StringIO()
    w = csv.writer(out, lineterminator="\n")
    d = FIRST_DAY + timedelta(days=i)
    blank = lambda v: "" if v is None else v  # noqa: E731
    if early_epoch(i):
        w.writerow(EARLY_HEADER)
        stamp = f"{d.month}/{d.day}/{d.year} 23:59"
        for r in rows:
            g = r.region
            province = f"{g.admin2}, {g.province}" if g.admin2 else g.province
            w.writerow((province, g.country, stamp, blank(r.confirmed),
                        blank(r.deaths), blank(r.recovered), g.lat, g.lon))
    else:
        w.writerow(LATE_HEADER)
        stamp = f"{d.isoformat()} 23:59:00"
        for r in rows:
            g = r.region
            key = ", ".join(p for p in (g.admin2, g.province, g.country) if p)
            active = (
                r.confirmed - r.deaths - r.recovered
                if None not in (r.confirmed, r.deaths, r.recovered) else None
            )
            w.writerow((g.fips, g.admin2, g.province, g.country, stamp, g.lat,
                        g.lon, blank(r.confirmed), blank(r.deaths),
                        blank(r.recovered), blank(active), key, "", ""))
    return out.getvalue()


# ---------------------------------------------------------------- model


def country_totals(rows: list[Row]) -> dict[str, tuple[int, int, int]]:
    """ods semantics: sum each counter per normalized country, NULL as 0."""
    out: dict[str, list[int]] = {}
    for r in rows:
        acc = out.setdefault(normalize_country(r.region.country), [0, 0, 0])
        acc[0] += r.confirmed or 0
        acc[1] += r.deaths or 0
        acc[2] += r.recovered or 0
    return {k: (v[0], v[1], v[2]) for k, v in out.items()}


def _round_half_up(x: float, places: int) -> float:
    # Spark rounds a DOUBLE through its shortest decimal string, HALF_UP.
    q = Decimal(1).scaleb(-places)
    return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))


def risk_category(cases_per_100k: int) -> str:
    for threshold, label in RISK_THRESHOLDS:
        if cases_per_100k > threshold:
            return label
    return "Low"


def expected_mart_day(
    totals: dict[str, tuple[int, int, int]],
    prev: dict[str, tuple[int, int, int]] | None,
    population: dict[str, int],
) -> dict[str, dict]:
    """Mart rows of one day, keyed by country: counters, deltas clamped at
    0 (0 when the country has no earlier day), per-100k and risk bucket.
    Countries without a positive population drop out (inner join + guard)."""
    out = {}
    for country, (c, d, r) in totals.items():
        pop = population.get(country)
        if not pop:
            continue
        before = (prev or {}).get(country)
        per100k = int(_round_half_up(c / pop * 100000, 0))
        out[country] = {
            "total_confirmed": c,
            "total_deaths": d,
            "total_recovered": r,
            "current_active_cases": c - d - r,
            "new_cases_today": max(c - before[0], 0) if before else 0,
            "new_deaths_today": max(d - before[1], 0) if before else 0,
            "cases_per_100k": per100k,
            "risk_category": risk_category(per100k),
        }
    return out


def expected_alerts_day(
    day: str,
    totals: dict[str, tuple[int, int, int]],
    prev: dict[str, tuple[int, int, int]] | None,
    population: dict[str, int],
) -> set[tuple[str, str, str]]:
    """The (day, country, alert_type) alerts one day raises: unclamped
    deltas against the previous day, no alert on a country's first day."""
    out = set()
    for country, (c, d, _r) in totals.items():
        pop = population.get(country)
        before = (prev or {}).get(country)
        if pop is None or before is None:
            continue
        dc, dd = c - before[0], d - before[1]
        if dc > 0 and pop > 0 and dc / pop >= CASE_RATE_THRESHOLD:
            out.add((day, country, "CASE_RATE_POPULATION"))
        if dd > 0 and pop > 0 and dd / pop >= DEATH_RATE_THRESHOLD:
            out.add((day, country, "DEATH_RATE_POPULATION"))
        if pop > 0 and dc * 100000.0 / pop > INCIDENCE_100K_THRESHOLD:
            out.add((day, country, "INCIDENCE_100K"))
        if pop > 0 and dd * 100000.0 / pop > DEATHS_100K_THRESHOLD:
            out.add((day, country, "DEATH_SPIKE_100K"))
    return out


def population_rows(population: dict[str, int]) -> list[tuple[str, str, int, int]]:
    """(country, country_code, year, population) rows for the population table."""
    return [
        (name, f"C{k:03d}", year, pop)
        for k, (name, pop) in enumerate(sorted(population.items()))
        for year in POPULATION_YEARS
    ]
