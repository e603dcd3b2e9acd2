#!/usr/bin/env python3
"""Self-test of the benchmark's Spark job attribution.

    python3 perfbench/selftest.py

1. ``q06_revenue_forecast`` on the benchmark's tables is one fixed plan:
   the traced run must count exactly one job inside source binding (the
   parquet schema read) and two inside the forcing action.
2. Jobs started on a worker thread do not carry the job group set on
   the calling thread, so counting by job group misses them; counting
   by job id (``spans.JobReader``) does not.

Exits 0 when both hold, 1 otherwise.
"""

from __future__ import annotations

import shutil
import sys
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from perfbench import run as bench_run  # noqa: E402

Q06_JOBS = {"sources.bind_jobs": 1, "action_jobs": 2, "spark.jobs": 3}


def check_q06(bench, expected) -> list[str]:
    from perfbench import layers
    from perfbench import workloads as wl
    from perfbench.spans import JobReader, Tracer

    spark = bench.spark
    tracer = Tracer()
    tracer.install(spark)
    obs = layers.Observer(bench, tracer, JobReader(spark))
    op = wl.registry_op("q06_revenue_forecast")
    obs.before(op, None)
    lat, ok = bench.run_op(op, None, tracer, expected)
    obs.after(op, None, {"op": op.name, "kind": op.kind, "lat": lat,
                         "ok": ok})
    rec = obs.records[-1]
    errs = [] if ok else [f"q06 output check failed: {bench.failures}"]
    for k, want in Q06_JOBS.items():
        if rec.get(k, 0) != want:
            errs.append(f"q06 {k} = {rec.get(k, 0):g}, expected {want}")
    return errs


def check_threads(spark) -> list[str]:
    from perfbench.spans import JobReader

    reader = JobReader(spark)
    sc = spark.sparkContext
    sc.setJobGroup("perfbench-selftest", "job attribution")
    try:
        spark.range(10).count()
        main = len(reader.new_jobs())
        with ThreadPoolExecutor(max_workers=2) as pool:
            list(pool.map(lambda n: spark.range(n).count(), [20, 30]))
        workers = len(reader.new_jobs())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    by_group = len(sc.statusTracker().getJobIdsForGroup(
        "perfbench-selftest"))
    print(f"jobs: {main} on the calling thread, {workers} on worker "
          f"threads; the job group holds {by_group}")
    errs = []
    if main < 1 or workers != 2 * main:
        errs.append(f"job-id delta counted {workers} worker-thread jobs "
                    f"for two copies of a {main}-job plan")
    if by_group != main:
        errs.append(f"job group holds {by_group} jobs, expected only the "
                    f"calling thread's {main}")
    return errs


def main() -> int:
    from perfbench import datagen
    from perfbench import workloads as wl

    work = bench_run.prepare()
    args = type("A", (), {"workload": "relational", "trace": 0})()
    bench = bench_run.Bench(args, work)
    try:
        datagen.write(str(work / "data"), bench_run.DATA_SEED)
        bench.ctx = bench._setup_once()
        errs = check_q06(bench, wl.load_expected()["relational"])
        errs += check_threads(bench.spark)
    finally:
        bench._teardown()
        bench_run.stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    for e in errs:
        print(f"FAIL {e}")
    print("selftest:", "FAIL" if errs else "ok")
    return 1 if errs else 0


if __name__ == "__main__":
    sys.exit(main())
