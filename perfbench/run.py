"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Workloads (see ``workloads.py``):
``medallion_daily`` and ``queries``. With ``--trace 0`` the last stdout
line carries the end-to-end metrics (set-up time, CPU seconds per pass
and per op, peak driver memory) and the correctness verdict; with
``--trace 1`` it carries the per-layer metrics, from a run in which half
of the ops are traced and half are not. The lines before it repeat the
metrics with their units and add an ``info`` line (wall times, sample
counts, failed ops). The engine's own output goes to stderr.

Everything the run writes (warehouse, landed CSVs, Spark scratch, JVM
temp files) lives under ``.perfbench_tmp/`` in the checkout and is
deleted before the process exits.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SF_DIR = os.path.join(HERE, "data", "sf0.01")

UNITS = {
    "jobs": "count", "stages": "count", "tasks": "count", "calls": "count",
    "files": "count", "partition_dirs": "count",
}


def unit_of(name: str) -> str:
    last = name.rsplit(".", 1)[-1]
    if last in UNITS:
        return UNITS[last]
    if last.endswith("_s"):
        return "s"
    if last.endswith("bytes"):
        return "bytes"
    if last.endswith("_mb"):
        return "MiB"
    return "ratio"


def parse_args(argv: list[str]) -> argparse.Namespace:
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.seconds <= 0:
        p.error("--seconds must be positive")
    return args


def end_to_end(out, rss_mb: float) -> dict[str, float]:
    """Set-up time, the CPU seconds of one pass and their geometric mean
    over the op kinds, and peak memory.

    Each op kind is costed by its least-interfered sample (see
    ``workloads``). Ops are costed in CPU seconds, not wall seconds: the
    hypervisor's steal adds to the wall time of an op but not to its CPU
    time (the per-layer metrics ``latency.*`` keep the wall times)."""
    from spans import geomean

    cpu = out.op_costs(out.op_cpu)
    return {
        "setup_s": out.setup["total"],
        "pass_cpu_s": sum(cpu.values()),
        "op_cpu_geomean_s": geomean(cpu.values()),
        "driver_rss_mb": rss_mb,
    }


def per_layer(out, workload: str) -> dict[str, float]:
    from spans import geomean
    from workloads import per_layer_names

    values = dict.fromkeys(per_layer_names(), 0.0)
    values.update(out.per_layer)
    wall = out.op_costs(out.op_wall)
    values["latency.wall_s"] = sum(wall.values())
    values["latency.op_geomean_s"] = geomean(wall.values())
    values["setup.cpu_s"] = out.setup["cpu"]
    values["session.launch_s"] = out.setup["launch"]
    values["session.start_s"] = out.setup["start"]
    values["harness.import_s"] = out.setup["import"]
    values["plans.bootstrap_s"] = out.setup["prepare"] if workload == "medallion_daily" else 0.0
    values["setup.warmup_s"] = out.setup["warmup"]
    values["bench.error_rate"] = len(out.failed) / out.attempted
    return values


def main(argv: list[str]) -> int:
    if not os.path.isfile(os.path.join(ROOT, "covid_data_pipeline_spark", "__init__.py")):
        print(f"perfbench: no engine package next to {HERE}; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(1, ROOT)
    args = parse_args(argv)

    from workloads import Engine, Outcome, run_medallion, run_queries

    tmp_root = os.path.join(ROOT, ".perfbench_tmp")
    tmp = os.path.join(tmp_root, f"run-{os.getpid()}")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    # spark-submit's launcher JVM reads these; the driver JVM gets the
    # same settings through get_spark's conf.
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    tempfile.tempdir = tmp
    # Keep the real stdout for the report; the JVM and the engine write
    # to fd 1 too, so it points at stderr for the whole run.
    real_stdout = os.dup(1)
    os.dup2(2, 1)
    sys.stdout = sys.stderr

    # A terminated run still stops its JVM and deletes its files.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    eng = Engine(tmp)
    out = Outcome()
    t0 = time.perf_counter()
    try:
        if args.workload == "medallion_daily":
            run_medallion(eng, args.seed, args.seconds, bool(args.trace), out)
        else:
            run_queries(eng, args.workload, SF_DIR, args.seed, args.seconds, bool(args.trace), out)
        jvm_mb, py_mb = eng.rss_mb()
    finally:
        try:
            eng.close()
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
            if os.path.isdir(tmp_root) and not os.listdir(tmp_root):
                os.rmdir(tmp_root)

    metrics = per_layer(out, args.workload) if args.trace else end_to_end(out, jvm_mb + py_mb)
    failed_names = sorted({f.split(":")[0] for f in out.failed})
    rounded = lambda d: {k: [round(t, 3) for t in v] for k, v in d.items()}  # noqa: E731
    walls = [t for v in out.op_wall.values() for t in v]
    info = {
        "workload": args.workload, "seed": args.seed, "cores": eng.n,
        "trace": args.trace, "run_s": time.perf_counter() - t0,
        "ops": len(walls), "attempted": out.attempted, "failed": len(out.failed),
        "error_rate": len(out.failed) / out.attempted, "failed_ops": failed_names,
        "jvm_hwm_mb": jvm_mb, "python_hwm_mb": py_mb,
        "setup_cycles_s": out.setup["cycles"], "setup_cycles_cpu_s": out.setup["cycles_cpu"],
        "warmup_s": out.setup["warmup"],
        "op_wall_s": rounded(out.op_wall), "op_cpu_s": rounded(out.op_cpu),
        "op_steal_share": rounded(out.op_steal),
        **out.info,
    }
    if walls:
        from spans import latency_summary

        info["latency"] = latency_summary(walls)
    result = {
        "correct": not out.failed,
        "attempted": out.attempted,
        "failed": len(out.failed),
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    }
    lines = [f"{k:40s} {v:14.6f} {unit_of(k)}" for k, v in metrics.items()]
    lines += ["info " + json.dumps(info, sort_keys=True), json.dumps(result)]
    with os.fdopen(real_stdout, "w") as f:
        f.write("\n".join(lines) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
