"""The benchmark workloads, driven only through the engine's public
entry points: ``session.get_spark``, ``plans.runner.bootstrap_population``
/ ``run_day``, and ``harness.registry.QUERIES[name].fn`` followed by a
``noop`` write.

Every workload runs in this one Python process on ``local[N]``, N at most
the machine's CPU count (and at most 4, to keep memory small). A run has
four phases:

1. set-up, repeated ``SETUP_CYCLES`` times: fresh engine import, session
   start (the first cycle launches the JVM), workload preparation;
2. warm-up: untimed, and for the query workloads it is the correctness
   check itself;
3. the timed part: a fixed number of passes, sized from ``seconds`` so
   that it lasts about that long on an idle 4-CPU machine, and the same
   for every seed and commit. A medallion pass is one day; a query pass
   runs each query once, in a seeded order, and each query is one op.
   Ops are timed in wall seconds and in CPU seconds of the driver JVM,
   its Python workers and this process;
4. the medallion's correctness check against the plain-Python model.

Each op kind (the medallion day, each query) is costed by its
least-interfered sample: the lowest time any of its samples took. On a
shared machine other tenants only ever add time, and they do so in
bursts of ten seconds and more: while the hypervisor steals 20% of the
VM's CPU time, the same medallion day takes up to 1.8x its quiet CPU
time. The lowest sample of a run is the one such a burst missed.
"""

from __future__ import annotations

import importlib
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field

import medallion as M
from spans import Tracer, span_counters

SETUP_CYCLES = 7
SETTLE_S = 1.0
# Wall seconds of one timed pass (a medallion day, or the four queries)
# on an idle 4-CPU machine, from which the number of passes is sized.
NOMINAL_PASS_S = 8.0
ENGINE = "covid_data_pipeline_spark"
MAX_CORES = 4

# The query workload: four of the ROADMAP target queries, two from each
# table family, so that one run (set-up, the checked warm-up pass and
# two timed passes of about 8 s at local[4] on sf0.01) stays under a
# minute on an idle 4-CPU machine.
TABULAR_QUERIES = (  # lineitem/orders: Spark tasks and shuffles dominate
    "mart_analytics",
    "market_basket_part_pairs",
)
CORPUS_QUERIES = (  # documents: building the plan already runs Spark jobs
    "graph_components_docs",
    "nb_lang_confusion",
)
QUERY_WORKLOADS: dict[str, tuple[str, ...]] = {"queries": TABULAR_QUERIES + CORPUS_QUERIES}
WORKLOADS = ("medallion_daily", *QUERY_WORKLOADS)

# Harness modules the query list draws from.
HARNESS_MODULES = ("queries_core", "queries_dedup", "queries_olap", "queries_text")
LAYERS = ("raw", "ods", "dds", "mart", "alerts")
PLAN_FUNCS = {
    "raw": "process_raw", "ods": "process_ods", "dds": "process_dds",
    "mart": "process_mart", "alerts": "run_all_alerts",
}
PLAN_COUNTERS = ("wall_s", "jobs", "stages", "task_busy_s", "driver_gap_s", "shuffle_bytes")
BUILD_COUNTERS = ("wall_s", "jobs", "stages", "task_busy_s", "driver_gap_s")
EXEC_COUNTERS = (
    "wall_s", "jobs", "stages", "tasks", "task_busy_s", "task_cpu_s",
    "driver_gap_s", "shuffle_bytes", "spill_bytes", "input_bytes", "task_skew",
)


def per_layer_names() -> list[str]:
    """Every per-layer metric, in the order BENCHMARK.json lists them."""
    names = [f"plans.{layer}.{c}" for layer in LAYERS for c in PLAN_COUNTERS]
    names += ["plans.coverage_min"]
    names += [f"sources.write.{c}" for c in ("wall_s", "calls", "files", "bytes")]
    names += [f"sources.read.{c}" for c in ("wall_s", "calls", "partition_dirs")]
    names += ["sources.storage_ratio"]
    names += [f"harness.build.{c}" for c in BUILD_COUNTERS]
    names += [f"engine.exec.{c}" for c in EXEC_COUNTERS]
    names += [f"harness.{m}.wall_s" for m in HARNESS_MODULES]
    names += [f"query.{q}.wall_s" for q in QUERY_WORKLOADS["queries"]]
    names += [
        "latency.wall_s", "latency.op_geomean_s",
        "session.launch_s", "session.start_s", "harness.import_s",
        "plans.bootstrap_s", "setup.cpu_s", "setup.warmup_s", "bench.error_rate",
        "trace.overhead_frac",
    ]
    return names


@dataclass
class Outcome:
    attempted: int = 0
    failed: list[str] = field(default_factory=list)
    # Untraced samples of each op kind: wall and CPU seconds, and the
    # share of the VM's CPU time the hypervisor took meanwhile.
    op_wall: dict[str, list[float]] = field(default_factory=dict)
    op_cpu: dict[str, list[float]] = field(default_factory=dict)
    op_steal: dict[str, list[float]] = field(default_factory=dict)
    setup: dict[str, float] = field(default_factory=dict)
    per_layer: dict[str, float] = field(default_factory=dict)
    info: dict = field(default_factory=dict)

    def add_sample(self, kind: str, wall: float, cpu: float, steal: float) -> None:
        self.op_wall.setdefault(kind, []).append(wall)
        self.op_cpu.setdefault(kind, []).append(cpu)
        self.op_steal.setdefault(kind, []).append(steal)

    def op_costs(self, samples: dict[str, list[float]]) -> dict[str, float]:
        """Each op kind's least-interfered sample (see the module doc)."""
        return {kind: min(values) for kind, values in samples.items()}


def pass_count(seconds: float) -> int:
    return max(1, round(seconds / NOMINAL_PASS_S))


# ------------------------------------------------------------ process


def proc_hwm_mb(pid: int | str) -> float:
    """Peak resident set (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


# JIT compiler threads of the JVM: how much they run depends on timing
# more than on the work, so their CPU time is left out of the op counts.
# The JVM is started with a fixed set of compiler threads, so none exits
# while its CPU time is being subtracted.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat(path: str) -> list[str]:
    """Fields of a /proc stat file after the command name."""
    with open(path) as f:
        return f.read().rsplit(")", 1)[1].split()


def _ticks(fields: list[str]) -> int:
    return int(fields[11]) + int(fields[12])  # utime + stime


def jvm_tree_cpu_s(pid: int) -> float:
    """CPU seconds of the JVM ``pid`` and of the processes under it (Python
    workers), less the JVM's JIT compiler threads."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                children.setdefault(int(_stat(f"/proc/{entry}/stat")[1]), []).append(int(entry))
            except (FileNotFoundError, ProcessLookupError):
                continue
    ticks, stack = 0, [pid]
    while stack:
        p = stack.pop()
        try:
            ticks += _ticks(_stat(f"/proc/{p}/stat"))
        except (FileNotFoundError, ProcessLookupError):
            continue
        stack.extend(children.get(p, ()))
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if f.read().strip() in JIT_THREADS:
                    ticks -= _ticks(_stat(f"/proc/{pid}/task/{tid}/stat"))
        except (FileNotFoundError, ProcessLookupError):
            continue
    return ticks / os.sysconf("SC_CLK_TCK")


class StealMeter:
    """Share of the VM's CPU time the hypervisor gave to others (steal)
    since :meth:`start`, from ``/proc/stat``; reported next to each
    sample so that a run's interference shows in its output."""

    def __init__(self):
        self._a = self._read()

    @staticmethod
    def _read() -> list[int]:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]

    def start(self) -> None:
        self._a = self._read()

    def share(self) -> float:
        d = [b - a for a, b in zip(self._a, self._read())]
        total = sum(d[:8])  # user .. steal; guest time is inside user
        return d[7] / total if total else 0.0


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def cores() -> int:
    return max(1, min(MAX_CORES, len(os.sched_getaffinity(0))))


class Engine:
    """The engine's modules and Spark session for one run.

    ``setup`` repeats the set-up: each cycle drops the engine's modules
    and re-imports them, stops any running session and starts a new one
    through ``get_spark``. The JVM is launched by the first cycle only and
    shut down by :meth:`close`.
    """

    def __init__(self, tmp: str):
        self.tmp = tmp
        self.spark = None
        self.mods: dict[str, object] = {}
        self.n = cores()

    def import_engine(self, names: tuple[str, ...]) -> None:
        for m in [m for m in sys.modules if m == ENGINE or m.startswith(ENGINE + ".")]:
            del sys.modules[m]
        self.mods = {n: importlib.import_module(f"{ENGINE}.{n}") for n in names}

    def start(self) -> None:
        if self.spark is not None:
            self.spark.stop()
        self.spark = self.mods["session"].get_spark(
            app_name="perfbench",
            master=f"local[{self.n}]",
            shuffle_partitions=self.n,
            extra_conf={
                "spark.local.dir": os.path.join(self.tmp, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(self.tmp, "spark-warehouse"),
                # C1 only: a run is too short for C2 to catch up (over
                # three medallion days its compiler threads used more CPU
                # than the work), so which code ran C2-compiled depended
                # on timing. C1 reaches its steady state in the warm-up.
                # With C1 only the default code cache is 48 MB, which
                # Spark's generated code fills by the fourth day; the JVM
                # then stops compiling and sweeps, so it gets 256 MB.
                # Serial GC on a heap fixed at Spark's 1g default: G1
                # sizes heap and young generation from the pause times of
                # the first seconds, so each JVM got its own GC schedule
                # and peak RSS (722 to 952 MiB on the same day).
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData"
                    " -XX:-UseDynamicNumberOfCompilerThreads -XX:TieredStopAtLevel=1"
                    " -XX:ReservedCodeCacheSize=256m -XX:+UseSerialGC -Xms1g"
                ),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")

    def setup(self, modules: tuple[str, ...], prepare) -> dict[str, float]:
        """Run the set-up cycles; return the median of each part."""
        parts: dict[str, list[float]] = {
            "import": [], "start": [], "prepare": [], "total": [], "cpu": [],
        }
        launch = 0.0
        for cycle in range(SETUP_CYCLES):
            cpu = self.cpu_s()
            t0 = time.perf_counter()
            self.import_engine(("session", *modules))
            t1 = time.perf_counter()
            self.start()
            t2 = time.perf_counter()
            prepare(cycle)
            t3 = time.perf_counter()
            if cycle == 0:
                launch = t2 - t1
            parts["import"].append(t1 - t0)
            parts["start"].append(t2 - t1)
            parts["prepare"].append(t3 - t2)
            parts["total"].append(t3 - t0)
            parts["cpu"].append(self.cpu_s() - cpu)
        out: dict = {k: statistics.median(v) for k, v in parts.items()}
        out["launch"] = launch
        out["cycles"] = [round(t, 3) for t in parts["total"]]
        out["cycles_cpu"] = [round(t, 3) for t in parts["cpu"]]
        return out

    def rss_mb(self) -> tuple[float, float]:
        """Peak resident set of the driver JVM and of this process, MiB."""
        return proc_hwm_mb(self.spark.sparkContext._gateway.proc.pid), proc_hwm_mb("self")

    def cpu_s(self) -> float:
        """CPU seconds used so far by the driver JVM (see ``jvm_tree_cpu_s``)
        and this process; this process alone before the JVM starts."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        jvm = jvm_tree_cpu_s(gw.proc.pid) if gw is not None else 0.0
        return jvm + time.process_time()

    def settle(self) -> None:
        """Start the timed window from a collected heap and an idle JIT."""
        self.spark.sparkContext._jvm.System.gc()
        time.sleep(SETTLE_S)

    def close(self) -> None:
        """Stop the session, shut the JVM down and wait for it to exit."""
        from pyspark import SparkContext

        try:
            if self.spark is not None:
                self.spark.stop()
            SparkContext._gateway.shutdown()
        except Exception:  # a run cut off mid-call leaves the gateway unusable
            traceback.print_exc()
        self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        # The gateway JVM exits when its stdin closes.
        gw.proc.stdin.close()
        try:
            gw.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gw.proc.kill()
            gw.proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


# ----------------------------------------------------------- medallion


def traced_warehouse(base, tracer: Tracer):
    """A subclass of the engine's ``Warehouse`` whose verbs record spans.

    Only the outermost verb is timed: ``overwrite_partitions`` on a new
    table calls ``append`` itself.
    """

    class _Traced(base):
        _depth = 0

        def read(self, table):
            if not tracer.enabled:
                return super().read(table)
            p = self.path(table)
            with tracer.span("sources.read", partition_dirs=count_partition_dirs(p)):
                return super().read(table)

        def _write(self, verb, df, table, *args, **kwargs):
            if self._depth or not tracer.enabled:
                return getattr(super(), verb)(df, table, *args, **kwargs)
            p = self.path(table)
            before = snapshot(p)
            self._depth += 1
            try:
                with tracer.span("sources.write") as s:
                    getattr(super(), verb)(df, table, *args, **kwargs)
            finally:
                self._depth -= 1
            after = snapshot(p)
            changed = [k for k, v in after.items() if before.get(k) != v]
            s.attrs["files"] = len(changed)
            s.attrs["bytes"] = sum(after[k][0] for k in changed)

        def append(self, df, table, *args, **kwargs):
            return self._write("append", df, table, *args, **kwargs)

        def overwrite_partitions(self, df, table, *args, **kwargs):
            return self._write("overwrite_partitions", df, table, *args, **kwargs)

        def replace(self, df, table, *args, **kwargs):
            return self._write("replace", df, table, *args, **kwargs)

    return _Traced


def snapshot(path: str) -> dict[str, tuple[int, int]]:
    """Data files under ``path`` with their size and mtime."""
    out = {}
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                st = os.stat(os.path.join(dirpath, f))
                out[os.path.join(dirpath, f)] = (st.st_size, st.st_mtime_ns)
    return out


def count_partition_dirs(path: str) -> int:
    n = 0
    for _dirpath, dirs, _files in os.walk(path):
        n += sum(1 for d in dirs if "=" in d)
    return n


def run_medallion(eng: Engine, seed: int, seconds: float, trace: bool, out: Outcome) -> None:
    import pandas as pd

    world = M.World(seed)
    pop_frame = pd.DataFrame(
        M.population_rows(world.population),
        columns=["country", "country_code", "year", "population"],
    ).astype({"year": "int32", "population": "int64"})
    land = os.path.join(eng.tmp, "landing")
    os.makedirs(land)
    state: dict = {}

    def prepare(cycle: int) -> None:
        wh_root = os.path.join(eng.tmp, f"warehouse-{cycle}")
        if cycle:
            shutil.rmtree(os.path.join(eng.tmp, f"warehouse-{cycle - 1}"))
        schemas = eng.mods["plans.schemas"]
        writers = eng.mods["sources.writers"]
        wh = writers.Warehouse(eng.spark, wh_root)
        # Built from pandas over Arrow, so no Python worker starts.
        pop = eng.spark.createDataFrame(pop_frame, schemas.POPULATION_SCHEMA)
        eng.mods["plans.runner"].bootstrap_population(eng.spark, wh, pop)
        state["wh_root"] = wh_root

    out.setup = eng.setup(("plans.runner", "plans.schemas", "sources.writers"), prepare)
    spark = eng.spark
    runner = eng.mods["plans.runner"]
    writers = eng.mods["sources.writers"]
    tracer = Tracer(spark, trace)
    if trace:
        wh = traced_warehouse(writers.Warehouse, tracer)(spark, state["wh_root"])
        for layer, fn_name in PLAN_FUNCS.items():
            setattr(runner, fn_name, traced_call(tracer, f"plans.{layer}", getattr(runner, fn_name)))
    else:
        wh = writers.Warehouse(spark, state["wh_root"])

    totals: dict[int, dict] = {}
    landed = 0
    errors: dict[int, str] = {}

    def land_day(i: int) -> str:
        nonlocal landed
        rows = world.day(i)
        totals[i] = M.country_totals(rows)
        path = os.path.join(land, f"{M.day_name(i)}.csv")
        with open(path, "w") as f:
            landed += f.write(M.render_csv(i, rows))
        return path

    def process(i: int, path: str) -> None:
        try:
            runner.run_day(spark, wh, M.day_name(i), csv_path=path)
        except Exception as e:  # a failed day is counted, the run goes on
            traceback.print_exc()
            errors[i] = f"{type(e).__name__}: {e}"[:300]

    t0 = time.perf_counter()
    process(0, land_day(0))
    out.setup["warmup"] = time.perf_counter() - t0
    eng.settle()

    traced_days: list[float] = []
    plain_days: list[float] = []
    steal = StealMeter()

    def op(k: int) -> None:
        i = k + 1
        path = land_day(i)
        # In a traced run every other day is traced; the rest measure
        # the same code untraced, for the tracing overhead.
        tracer.enabled = trace and k % 2 == 0
        steal.start()
        cpu = eng.cpu_s()
        t_day = time.perf_counter()
        with tracer.span("day"):
            process(i, path)
        wall = time.perf_counter() - t_day
        cpu = eng.cpu_s() - cpu
        tracer.enabled = False
        if trace and k % 2 == 0:
            traced_days.append(wall)
        else:
            plain_days.append(wall)
            out.add_sample("day", wall, cpu, steal.share())

    n_days = pass_count(seconds)
    # A traced run needs one traced and one untraced day at least.
    for k in range(max(2, n_days) if trace else n_days):
        op(k)

    days = sorted(totals)
    mismatches = check_medallion(spark, wh.path, days, totals, world.population)
    for i in days:
        out.attempted += 1
        if i in errors or i in mismatches:
            out.failed.append(f"day {M.day_name(i)}: {errors.get(i) or mismatches[i]}")
    out.info["days"] = len(days)
    wh_bytes = dir_bytes(state["wh_root"])
    out.per_layer["sources.storage_ratio"] = wh_bytes / landed
    if trace:
        medallion_layers(tracer, out)
        out.per_layer["trace.overhead_frac"] = (
            statistics.median(traced_days) / statistics.median(plain_days) - 1.0
        )


def traced_call(tracer: Tracer, name: str, fn):
    def wrapper(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)

    return wrapper


def check_medallion(spark, path_of, days, totals, population) -> dict[int, str]:
    """Compare every processed day's mart rows and alerts with the model."""
    from pyspark.sql import functions as F

    mart_cols = (
        "total_confirmed", "total_deaths", "total_recovered", "current_active_cases",
        "new_cases_today", "new_deaths_today", "cases_per_100k", "risk_category",
    )
    mart: dict[str, dict] = {}
    for r in spark.read.parquet(path_of("data_mart.covid_analytics")).select(
        F.col("report_date").cast("string").alias("d"), "country_name", *mart_cols
    ).collect():
        mart.setdefault(r["d"], {})[r["country_name"]] = {c: r[c] for c in mart_cols}
    alerts: dict[str, set] = {}
    alerts_path = path_of("alerts.covid_alerts")
    if os.path.isdir(alerts_path):
        for r in spark.read.parquet(alerts_path).select(
            F.col("alert_date").cast("string").alias("d"), "country", "alert_type"
        ).collect():
            alerts.setdefault(r["d"], set()).add((r["d"], r["country"], r["alert_type"]))

    bad: dict[int, str] = {}
    for i in days:
        d = M.day_name(i)
        prev = totals.get(i - 1)
        want = M.expected_mart_day(totals[i], prev, population)
        got = mart.get(d, {})
        if got != want:
            diff = sorted(k for k in set(got) | set(want) if got.get(k) != want.get(k))
            bad[i] = f"mart differs for {len(diff)} countries, first {diff[:3]}"
            continue
        want_alerts = M.expected_alerts_day(d, totals[i], prev, population)
        got_alerts = alerts.get(d, set())
        if got_alerts != want_alerts:
            bad[i] = (
                f"alerts differ: missing {sorted(want_alerts - got_alerts)[:3]}, "
                f"extra {sorted(got_alerts - want_alerts)[:3]}"
            )
    return bad


def medallion_layers(tracer: Tracer, out: Outcome) -> None:
    spans = tracer.spans
    per_day: dict[str, list[float]] = {}

    def add(key: str, v: float) -> None:
        per_day.setdefault(key, []).append(v)

    coverage = []
    for day_span in (s for s in spans if s.name == "day"):
        sub = day_span.subtree(spans)
        covered = 0.0
        for layer in LAYERS:
            for s in (x for x in sub if x.name == f"plans.{layer}"):
                c = span_counters(s, spans)
                covered += c["wall_s"]
                for key in PLAN_COUNTERS:
                    add(f"plans.{layer}.{key}", c[key])
        coverage.append(covered / day_span.wall)
        writes = [s for s in sub if s.name == "sources.write"]
        reads = [s for s in sub if s.name == "sources.read"]
        add("sources.write.wall_s", sum(s.wall for s in writes))
        add("sources.write.calls", len(writes))
        add("sources.write.files", sum(s.attrs["files"] for s in writes))
        add("sources.write.bytes", sum(s.attrs["bytes"] for s in writes))
        add("sources.read.wall_s", sum(s.wall for s in reads))
        add("sources.read.calls", len(reads))
        add("sources.read.partition_dirs", sum(s.attrs["partition_dirs"] for s in reads))
    for key, values in per_day.items():
        out.per_layer[key] = statistics.median(values)
    out.per_layer["plans.coverage_min"] = min(coverage)


# ------------------------------------------------------------- queries


def run_queries(eng: Engine, workload: str, sf_dir: str, seed: int, seconds: float,
                trace: bool, out: Outcome) -> None:
    names = QUERY_WORKLOADS[workload]
    out.setup = eng.setup(("harness.registry", "harness.oracle"), lambda cycle: None)
    spark = eng.spark
    registry = eng.mods["harness.registry"]
    specs = [registry.QUERIES[n] for n in names]
    tracer = Tracer(spark, trace)

    # Correctness check, once per run and untimed; it also warms the JVM
    # for the timed passes.
    t0 = time.perf_counter()
    bad = check_queries(eng, specs, sf_dir, random.Random(f"check:{seed}"))
    out.setup["warmup"] = time.perf_counter() - t0
    eng.settle()

    traced: dict[str, list[float]] = {n: [] for n in names}
    plain: dict[str, list[float]] = {n: [] for n in names}
    raised: dict[str, str] = {}

    steal = StealMeter()

    def sample(spec, traced_sample: bool) -> float:
        tracer.enabled = traced_sample
        steal.start()
        cpu = eng.cpu_s()
        t_a = time.perf_counter()
        with tracer.span("query"):
            try:
                with tracer.span("harness.build"):
                    df = spec.fn(spark, sf_dir)
                with tracer.span("engine.exec"):
                    df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # a failed query is counted, the pass goes on
                traceback.print_exc()
                raised.setdefault(spec.name, f"{type(e).__name__}: {e}"[:300])
        wall = time.perf_counter() - t_a
        cpu = eng.cpu_s() - cpu
        if not traced_sample:
            out.add_sample(spec.name, wall, cpu, steal.share())
        tracer.enabled = False
        spark.catalog.clearCache()
        out.attempted += 1
        if spec.name in raised or spec.name in bad:
            out.failed.append(spec.name)
        return wall

    def one_pass(k: int) -> None:
        order = list(specs)
        random.Random(f"order:{seed}:{k}").shuffle(order)
        for j, spec in enumerate(order):
            if not trace:
                plain[spec.name].append(sample(spec, False))
                continue
            # Traced runs time every query traced and untraced, in
            # alternating order, for the tracing overhead.
            first_traced = (j + k) % 2 == 0
            for is_traced in (first_traced, not first_traced):
                (traced if is_traced else plain)[spec.name].append(sample(spec, is_traced))

    # A traced pass samples each query twice, so it takes half as many.
    n_passes = pass_count(seconds)
    for k in range((n_passes + 1) // 2 if trace else n_passes):
        one_pass(k)
    out.info["query_walls_s"] = {n: [round(t, 3) for t in v] for n, v in plain.items()}
    out.attempted += len(specs)
    for name, why in bad.items():
        out.failed.append(f"{name} (check): {why}")
    for name, why in raised.items():
        out.info.setdefault("raised", {})[name] = why

    if trace:
        query_layers(tracer, specs, traced, out)
        out.per_layer["trace.overhead_frac"] = (
            sum(sum(v) for v in traced.values()) / sum(sum(v) for v in plain.values()) - 1.0
        )


def check_queries(eng: Engine, specs, sf_dir: str, rng: random.Random) -> dict[str, str]:
    """DuckDB-oracle comparison (``harness.oracle.compare``) for each query."""
    compare = eng.mods["harness.oracle"].compare
    spark = eng.spark
    bad = {}
    order = list(specs)
    rng.shuffle(order)
    for spec in order:
        t0 = time.perf_counter()
        try:
            compare(spec, spark, sf_dir)
        except Exception as e:  # a failed check is counted, the run goes on
            traceback.print_exc()
            bad[spec.name] = f"{type(e).__name__}: {e}"[:300]
        spark.catalog.clearCache()
        print(f"check {spec.name} {time.perf_counter() - t0:.2f}s", file=sys.stderr)
    return bad


def query_layers(tracer: Tracer, specs, traced: dict[str, list[float]], out: Outcome) -> None:
    spans = tracer.spans
    build: dict[str, list[float]] = {}
    exe: dict[str, list[float]] = {}
    for q in (s for s in spans if s.name == "query"):
        for child in q.subtree(spans):
            if child.name == "harness.build":
                c = span_counters(child, spans)
                for key in BUILD_COUNTERS:
                    build.setdefault(key, []).append(c[key])
            elif child.name == "engine.exec":
                c = span_counters(child, spans)
                for key in EXEC_COUNTERS:
                    exe.setdefault(key, []).append(c[key])
    # Means, so that build + exec adds up to the query wall.
    for key, values in build.items():
        out.per_layer[f"harness.build.{key}"] = statistics.fmean(values)
    for key, values in exe.items():
        out.per_layer[f"engine.exec.{key}"] = statistics.fmean(values)
    for spec in specs:
        mean = statistics.fmean(traced[spec.name])
        module = spec.fn.__module__.rsplit(".", 1)[-1]
        key = f"harness.{module}.wall_s"
        out.per_layer[key] = out.per_layer.get(key, 0.0) + mean
        out.per_layer[f"query.{spec.name}.wall_s"] = mean
    walls = [q.wall for q in spans if q.name == "query"]
    parts = [
        c.wall for q in spans if q.name == "query" for c in q.subtree(spans)
        if c.name in ("harness.build", "engine.exec")
    ]
    out.info["build_plus_exec_over_query_wall"] = sum(parts) / sum(walls)
