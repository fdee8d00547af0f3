"""Idle A/B bench over a subset of registry queries.

Usage: PYTHONPATH=<tree> python tools/bench_subset.py q1,q2,... [runs]
Prints one JSON line {name: median_sec}. Methodology matches bench.py:
untimed warmup pass, N timed runs (noop sink), median, cache cleared
between runs.
"""
from __future__ import annotations

import json
import os
import statistics
import sys
import time


def main() -> None:
    names = sys.argv[1].split(",")
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from covid_data_pipeline_spark.session import get_spark

    spark = get_spark(
        app_name="bench_subset",
        driver_memory=os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.scheduler.DAGScheduler",
            jvm.org.apache.logging.log4j.Level.FATAL,
        )
    except Exception:
        pass

    from covid_data_pipeline_spark.harness.registry import QUERIES

    def run_once(n: str) -> float:
        t0 = time.perf_counter()
        QUERIES[n].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        el = time.perf_counter() - t0
        spark.catalog.clearCache()
        return el

    for n in names:
        run_once(n)  # warmup
    spark.catalog.clearCache()
    out = {}
    for n in names:
        samples = [round(run_once(n), 3) for _ in range(runs)]
        out[n] = round(statistics.median(samples), 3)
        print(f"# {n}: {out[n]} (runs {samples})", file=sys.stderr)
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
