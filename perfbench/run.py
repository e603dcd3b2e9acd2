#!/usr/bin/env python3
"""The blaze_spark benchmark: one closed-loop client over one workload.

    python3 perfbench/run.py --workload relational --seed 1 \\
        --seconds 12 --trace 0

Run from the repository root.  The run generates its tables
(``perfbench/datagen.py``, fixed data seed) under ``.perfbench/``,
starts ``local[<cpus>]`` Spark, sets the workload up several times
(``setup_s`` is the median), runs one untimed warm pass, then
measures whole passes of the workload's ops, each in an order drawn
from ``--seed``, until ``--seconds`` of pass time is spent and at
least three passes are done.  Every op's output is checked against
``perfbench/expected.json``; a mismatch or an exception counts as
failed and is named in the report.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` measures
half the window untraced and half traced (``perfbench/spans.py``),
prints the per-layer metrics and the tracing overhead, and writes the
spans and per-op records to ``.perfbench/traces/``.

The report goes to stdout; its last line is one JSON object with the
keys ``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import ctypes
import gc
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path
from types import SimpleNamespace

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
DATA_SEED = 0      # the tables are fixed; --seed drives the op order
WARM_PASSES = 1    # untimed passes before measuring (the first pass
                   # compiles: Python imports, UDF pickling, JIT)
SETUPS = 5         # set-ups per run; setup_s is their median (the
                   # first includes the JVM launch)
MIN_PASSES = 3     # measured passes at least (one slow pass does not
                   # move the fastest of three)
STEAL_MAX = 0.03   # a pass during which the hypervisor stole more of
                   # the host's CPU time than this is disturbed: the
                   # host's other guests, not the program, set its time


def preflight() -> str | None:
    for need in ("blaze_spark/__init__.py", "__spark_entry__.py"):
        if not (ROOT / need).is_file():
            return f"{need} not found under {ROOT}: run from a checkout"
    return None


def cpu_ticks() -> tuple[int, int, int]:
    """Host CPU ticks so far: (total, idle, stolen by the hypervisor)."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return sum(f), f[3] + f[4], f[7] if len(f) > 7 else 0


def busy_frac(dt: float = 0.2) -> float:
    """Share of host CPU busy over ``dt`` seconds between passes, while
    no op runs: background JVM work (JIT, GC) or a neighbour."""
    t0, i0, _ = cpu_ticks()
    time.sleep(dt)
    t1, i1, _ = cpu_ticks()
    return 1.0 - (i1 - i0) / max(1, t1 - t0)


def vm_mb(pid: int | str, field: str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith(field + ":"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def live_mem_mb(spark) -> tuple[float, float, float]:
    """Memory the driver holds after both runtimes collect their garbage:
    the Python process's resident memory (free heap returned to the OS
    first) and the JVM's live heap -- cached data and retained state
    count, garbage does not.  Also the peak resident memory (VmHWM) of
    the two processes."""
    gc.collect()
    try:
        ctypes.CDLL("libc.so.6").malloc_trim(0)
    except OSError:
        pass  # not glibc: RSS may include freed heap
    jvm = spark.sparkContext._jvm
    rt = jvm.Runtime.getRuntime()
    # one full collection leaves objects that only finalizers and
    # reference cleaners release: collect until the heap stops shrinking
    heap = float("inf")
    for _ in range(5):
        jvm.System.gc()
        prev, heap = heap, (rt.totalMemory() - rt.freeMemory()) / 2**20
        if prev - heap < 1.0:
            break
    pid = jvm.ProcessHandle.current().pid()
    return (vm_mb("self", "VmRSS"), heap,
            vm_mb("self", "VmHWM") + vm_mb(pid, "VmHWM"))


def hd_quantile(values: list[float], p: float) -> float:
    """Harrell-Davis estimate of the ``p`` quantile: a Beta-weighted
    mean of every order statistic.  An op mix has a few latency
    clusters, one per op kind; where ``p`` falls between two clusters
    the sample quantile jumps from one to the other as a single sample
    moves, while this estimate moves smoothly."""
    import numpy as np

    x = np.sort(np.asarray(values, dtype=float))
    n = len(x)
    if n < 2:
        return float(x[0])
    a, b = p * (n + 1), (1 - p) * (n + 1)
    t = np.linspace(0.0, 1.0, 20001)[1:-1]
    pdf = np.exp((a - 1) * np.log(t) + (b - 1) * np.log1p(-t))
    cdf = np.concatenate([[0.0], np.cumsum((pdf[1:] + pdf[:-1]) / 2)])
    cdf = np.interp(np.arange(n + 1) / n, t, cdf / cdf[-1])
    return float(np.diff(cdf) @ x)


class Bench:
    def __init__(self, args, work: Path):
        self.args = args
        self.work = work
        self.cpus = os.cpu_count() or 1
        self.spark = None
        self.ctx = None
        self.failures: list[str] = []

    # -- Spark and set-up ------------------------------------------------
    def _session(self):
        from pyspark.sql import SparkSession

        w = self.work
        return (SparkSession.builder.master(f"local[{self.cpus}]")
                .appName("perfbench")
                .config("spark.sql.shuffle.partitions", str(self.cpus))
                .config("spark.sql.adaptive.enabled", "true")
                .config("spark.sql.session.timeZone", "UTC")
                .config("spark.sql.execution.arrow.pyspark.enabled", "true")
                .config("spark.ui.enabled", "false")
                # room for every generated class of a workload: with the
                # default 100 entries each pass evicts and recompiles
                # about 100 classes, and the JVM compiles them again
                .config("spark.sql.codegen.cache.maxEntries", "2000")
                .config("spark.ui.showConsoleProgress", "false")
                .config("spark.driver.memory", "2g")
                .config("spark.local.dir", str(w / "spark-local"))
                .config("spark.sql.warehouse.dir", str(w / "warehouse"))
                .config("spark.driver.extraJavaOptions",
                        f"-Dderby.system.home={w / 'derby'}")
                .getOrCreate())

    def _setup_once(self):
        """Session start, source binding, and for ``pipeline`` the server
        with its datasets and an empty counts store."""
        import blaze_spark
        from blaze_spark.client import Client
        from blaze_spark.server import BlazeSparkServer

        import __spark_entry__ as entry

        from perfbench import workloads as wl

        self.spark = self._session()
        self.spark.sparkContext.setLogLevel("ERROR")
        data_dir = str(self.work / "data")
        ctx = SimpleNamespace(spark=self.spark, data_dir=data_dir,
                              registry=entry.queries(), server=None)
        bound = {t: blaze_spark.data(f"{data_dir}/{t}.parquet",
                                     spark=self.spark, name=t)
                 for t in wl.TABLES[self.args.workload]}
        if self.args.workload == "pipeline":
            ctx.store = str(self.work / "store" / "lm")
            shutil.rmtree(ctx.store, ignore_errors=True)
            os.makedirs(ctx.store)
            ctx.docs = bound["documents"]
            ctx.server = BlazeSparkServer(
                {t: bound[t] for t in wl.SERVED}, self.spark,
                stores={"lm": ctx.store},
                allow_profiler=bool(self.args.trace))
            ctx.server.start(port=0)
            ctx.url = f"blaze://127.0.0.1:{ctx.server.port}"
            ctx.client = Client(ctx.url, spark=self.spark)
            ctx.client.schemas()
        return ctx

    def _teardown(self):
        if self.ctx is not None and self.ctx.server is not None:
            self.ctx.server.stop()
        self.ctx = None
        if self.spark is not None:
            self.spark.stop()

    def setup(self) -> list[float]:
        times = []
        for i in range(SETUPS):
            if i:
                self._teardown()
            t0 = time.perf_counter()
            self.ctx = self._setup_once()
            times.append(time.perf_counter() - t0)
        return times

    # -- ops ---------------------------------------------------------------
    def run_op(self, op, arg, tracer, expected) -> tuple[float, bool]:
        ctx = self.ctx
        t0 = time.perf_counter()
        try:
            with tracer.span(f"op:{op.name}", "bench"):
                with tracer.span("build", "bench"):
                    built = op.build(ctx, arg)
                with tracer.span("run", op.run_layer):
                    out = op.run(ctx, built)
                with tracer.span("check", "bench"):
                    got = op.digest(ctx, out)
            ok = list(got) == [expected[op.name]["rows"],
                               expected[op.name]["digest"]]
            if not ok:
                self.failures.append(f"{op.name}: digest {got} != "
                                     f"{expected[op.name]}")
        except Exception as e:  # an op failure is a measured outcome
            ok = False
            self.failures.append(f"{op.name}: {type(e).__name__}: "
                                 f"{str(e).splitlines()[0][:200]}")
            traceback.print_exc(file=sys.stderr)
        lat = time.perf_counter() - t0
        return lat, ok

    def measure(self, seconds: float, rng, tracer, expected,
                observer=None, min_passes: int = MIN_PASSES):
        """Whole seeded passes until ``seconds`` of pass time is spent
        and ``min_passes`` passes are undisturbed (see ``STEAL_MAX``),
        or twice ``min_passes`` passes are done.  Returns the op samples
        (each with its pass number), per pass the host's busy fraction
        just before it and the share of CPU time the hypervisor stole
        during it, and the pass wall times."""
        from perfbench import workloads as wl

        samples, busy, passes = [], [], []
        while len(passes) < 2 * min_passes:
            clean = sum(1 for _, stolen in busy if stolen <= STEAL_MAX)
            if clean >= min_passes and sum(passes) >= seconds:
                break
            before = busy_frac()
            c0 = cpu_ticks()
            t0 = time.perf_counter()
            for op, arg in wl.pass_order(self.args.workload, rng):
                if observer is not None:
                    observer.before(op, arg)
                lat, ok = self.run_op(op, arg, tracer, expected)
                rec = {"op": op.name, "kind": op.kind, "lat": lat,
                       "ok": ok, "pass": len(passes)}
                if observer is not None:
                    observer.after(op, arg, rec)
                samples.append(rec)
            passes.append(time.perf_counter() - t0)
            c1 = cpu_ticks()
            busy.append((before, (c1[2] - c0[2]) / max(1, c1[0] - c0[0])))
        return samples, busy, passes


def e2e_metrics(samples: list[dict], passes: list[float],
                host: list[tuple[float, float]]) -> dict:
    """Best-of timings over the undisturbed passes (or, when fewer than
    ``MIN_PASSES`` were, the ``MIN_PASSES`` least disturbed): the host's
    speed wanders by tens of percent over minutes, and a slow stretch in
    part of a run moves a median but not a minimum.  ``pass_s`` is the
    fastest pass's wall time; an op's latency is the fastest of its
    samples (a failed op is charged the time it took), and
    ``op_p50_s``/``op_p75_s`` are quantiles over the ops of one pass at
    those latencies."""
    stolen = [s for _, s in host]
    limit = max(STEAL_MAX, sorted(stolen)[min(MIN_PASSES, len(stolen)) - 1])
    used = [i for i, s in enumerate(stolen) if s <= limit]
    per_op: dict[str, list[float]] = {}
    for s in samples:
        if s["pass"] in used:
            per_op.setdefault(s["op"], []).append(s["lat"])
    # one pass's ops: an op that runs twice a pass counts twice
    lats = [min(v) for v in per_op.values()
            for _ in range(round(len(v) / len(used)))]
    return {
        "pass_s": min(passes[i] for i in used),
        "passes": passes,
        "used": sorted(used),
        "op_p50_s": hd_quantile(lats, 0.5),
        "op_p75_s": hd_quantile(lats, 0.75),
        "ops": len(lats),
        "per_op": {k: (min(v), statistics.median(v))
                   for k, v in per_op.items()},
    }


def prepare() -> Path:
    """A fresh work directory under ``.perfbench/``; everything Spark,
    its Python workers and ``tempfile`` write goes there."""
    work = ROOT / ".perfbench" / f"run-{os.getpid()}"
    for sub in ("tmp", "spark-local", "derby"):
        os.makedirs(work / sub, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    # no JVM (the launcher's included) writes hsperfdata under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        [os.environ.get("JAVA_TOOL_OPTIONS", ""), "-XX:-UsePerfData",
         f"-Djava.io.tmpdir={work / 'tmp'}"]).strip()
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    import tempfile
    tempfile.tempdir = None
    return work


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="blaze_spark benchmark")
    ap.add_argument("--workload", required=True,
                    choices=["relational", "pipeline"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    problem = preflight()
    if problem:
        print(f"perfbench: {problem}", file=sys.stderr)
        return 2
    work = prepare()
    bench = Bench(args, work)
    try:
        report, line = run(bench, args)
    finally:
        try:
            bench._teardown()
        finally:
            stop_jvm()
            shutil.rmtree(work, ignore_errors=True)
    print("\n".join(report))
    print(json.dumps(line))
    sys.stdout.flush()
    return 0


def stop_jvm() -> None:
    """Close the JVM the session launched and wait for it to exit."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def run(bench: Bench, args):
    from perfbench import datagen
    from perfbench import workloads as wl
    from perfbench.spans import NullTracer

    datagen.write(str(bench.work / "data"), DATA_SEED)
    expected = wl.load_expected()[args.workload]
    setup_times = bench.setup()
    spark = bench.spark

    warm_fail, warm_ops, warm_s = [], [], []
    for _ in range(WARM_PASSES):
        t0 = time.perf_counter()
        for op, arg in wl.warm_order(args.workload):
            lat, ok = bench.run_op(op, arg, NullTracer(), expected)
            warm_ops.append(f"{op.name} {lat:.2f}")
            if not ok and op.name not in warm_fail:
                warm_fail.append(op.name)
        warm_s.append(time.perf_counter() - t0)

    rng = random.Random(args.seed)
    report = [f"# perfbench workload={args.workload} seed={args.seed} "
              f"cpus={bench.cpus} seconds={args.seconds} "
              f"trace={args.trace}",
              f"# set-ups: {', '.join(f'{t:.3f}' for t in setup_times)} s "
              f"(first includes the JVM launch); warm passes "
              f"{', '.join(f'{t:.2f}' for t in warm_s)} s"
              + (f"; warm-pass failures: {warm_fail}" if warm_fail else ""),
              f"# warm passes per op (s): {', '.join(warm_ops)}"]

    if not args.trace:
        samples, busy, passes = bench.measure(args.seconds, rng,
                                              NullTracer(), expected)
        m = e2e_metrics(samples, passes, busy)
        py_mb, heap_mb, hwm = live_mem_mb(spark)
        metrics = {
            "setup_s": (statistics.median(setup_times), "s"),
            "pass_s": (m["pass_s"], "s"),
            "op_p50_s": (m["op_p50_s"], "s"),
            "op_p75_s": (m["op_p75_s"], "s"),
            "live_mem_mb": (py_mb + heap_mb, "MB"),
        }
        report += _e2e_report(args, metrics, m, samples, busy, bench)
        report.append(f"# live memory: Python {py_mb:.1f} MB + JVM heap "
                      f"{heap_mb:.1f} MB; peak resident memory (VmHWM, "
                      f"Python + JVM) {hwm:.1f} MB")
    else:
        metrics, samples, traced_report = run_traced(bench, args, rng,
                                                     expected, spark)
        report += traced_report

    attempted = len(samples)
    failed = sum(1 for s in samples if not s["ok"])
    line = {"correct": failed == 0 and not warm_fail,
            "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()}}
    return report, line


def host_line(prefix: str, host: list[tuple[float, float]]) -> str:
    return (f"# {prefix}host busy fraction before each pass: "
            f"{', '.join(f'{b:.2f}' for b, _ in host)}; CPU stolen "
            f"during each pass: {', '.join(f'{s:.3f}' for _, s in host)}")


def _e2e_report(args, metrics, m, samples, busy, bench) -> list[str]:
    attempted = len(samples)
    failed = sum(1 for s in samples if not s["ok"])
    out = [host_line("", busy),
           f"# pass wall times: "
           f"{', '.join(f'{t:.3f}' for t in m['passes'])} s; passes "
           f"used: {', '.join(str(i + 1) for i in m['used'])}"]
    for name, (v, unit) in metrics.items():
        note = ""
        if name.startswith("op_p"):
            note = (f"  (Harrell-Davis quantile over the {m['ops']} ops "
                    f"of a pass, each the fastest of its samples in "
                    f"{len(m['used'])} passes)")
        elif name == "setup_s":
            note = f"  (median of {SETUPS} set-ups)"
        elif name == "pass_s":
            note = (f"  (fastest of {len(m['used'])} passes of "
                    f"{len(samples) // len(m['passes'])} ops; median "
                    f"{statistics.median(m['passes']):.4f} s)")
        out.append(f"{args.workload} {name} {v:.4f} {unit}{note}")
    out.append(f"{args.workload} failed_frac "
               f"{failed / max(1, attempted):.4f} ratio "
               f"({failed}/{attempted})")
    for f in sorted(set(bench.failures)):
        out.append(f"# FAILED {f}")
    for op, (best, med) in sorted(m["per_op"].items()):
        out.append(f"# op {op} fastest {best:.4f} s, median {med:.4f} s")
    return out


def run_traced(bench, args, rng, expected, spark):
    """Half the window untraced, then tracing on for the other half."""
    from perfbench import layers
    from perfbench.spans import JobReader, NullTracer, Tracer

    half = args.seconds / 2.0
    plain, plain_host, plain_passes = bench.measure(
        half, rng, NullTracer(), expected, min_passes=2)
    tracer = Tracer()
    tracer.install(spark)
    obs = layers.Observer(bench, tracer, JobReader(spark))
    traced, busy, traced_passes = bench.measure(half, rng, tracer,
                                                expected, obs, min_passes=2)
    metrics, report = layers.summarize(
        bench, args, plain, obs.records, obs.spans,
        host_line("traced window: ", busy),
        e2e_metrics(plain, plain_passes, plain_host),
        e2e_metrics(traced, traced_passes, busy))
    failures = [f"# FAILED {f}" for f in sorted(set(bench.failures))]
    return metrics, plain + traced, report + failures


if __name__ == "__main__":
    sys.exit(main())
