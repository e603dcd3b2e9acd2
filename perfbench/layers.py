"""Per-op records and per-layer metrics for the traced run.

For each op the traced run keeps: its spans (``spans.Tracer``), the
Spark jobs it caused (``spans.JobReader``), the persists it made, the
server profiles and response bytes of its requests, and the number of
persistent RDDs still live after its result is dropped.

Self time of a span is its duration minus its children's (main thread
only: work on library pool threads and server handler threads happens
while the main thread waits inside a span, so counting it again would
double it).  An op's wall time therefore splits exactly into the self
times of its layer spans, ``spark.action_s`` (the forcing action) and
the benchmark's own share (``bench.overhead_s``: the registry glue
outside library calls and the digest check).

Per-layer metrics are per pass: the traced window's total divided by
its number of (whole) passes.  Their names and units are the
``per_layer`` list of ``BENCHMARK.json``.
"""

from __future__ import annotations

import gc
import json
import os
import statistics
from collections import defaultdict
from pathlib import Path

from perfbench.spans import _PERF_TO_EPOCH

SELF_LAYERS = ("sources", "core", "pipeline", "streaming", "client")
SPARK_FIELDS = ("tasks", "failed_tasks", "run_s", "cpu_s", "gc_s",
                "shuffle_read_mb", "shuffle_write_mb", "spill_mb")
SERVER_FIELDS = ("parse_s", "plan_s", "execute_s", "serialize_s")

BENCHMARK_JSON = Path(__file__).resolve().parents[1] / "BENCHMARK.json"


def per_layer_metrics() -> list[tuple[str, str]]:
    """(name, unit) of every per-layer metric, from ``BENCHMARK.json``."""
    with open(BENCHMARK_JSON) as fh:
        return [(m["name"], m["unit"]) for m in json.load(fh)["per_layer"]]


class Observer:
    """Hooks around each op of the traced window."""

    def __init__(self, bench, tracer, jobs):
        self.bench, self.tracer, self.jobs = bench, tracer, jobs
        self.records: list[dict] = []
        self.spans: list[dict] = []
        self._ids = iter(range(1, 1 << 30))
        self._persists = self._bytes = 0
        self._profiles = 0

    def before(self, op, arg):
        self.tracer.op = next(self._ids)

    def after(self, op, arg, sample: dict):
        t = self.tracer
        spans = [s for s in t.take() if s.op == t.op]
        jobs = self.jobs.new_jobs()
        gc.collect()  # the op's result is dropped: free what it held
        jsc = self.bench.spark.sparkContext._jsc
        rec = op_record(spans, jobs, self.jobs)
        rec.update(op=sample["op"], op_id=t.op, kind=sample["kind"],
                   lat=sample["lat"], ok=sample["ok"],
                   persists=t.persists - self._persists,
                   response_mb=(t.response_bytes - self._bytes) / 1e6,
                   live_after_op=jsc.getPersistentRDDs().size())
        for p in t.profiles[self._profiles:]:
            for f in SERVER_FIELDS:
                rec[f"server.{f}"] = rec.get(f"server.{f}", 0.0) + p.get(f, 0)
        self._profiles = len(t.profiles)
        self._persists, self._bytes = t.persists, t.response_bytes
        if op.kind == "write":
            d = os.path.join(self.bench.ctx.store, f"ingest={arg}")
            rec["files_written"] = sum(len(f) for _, _, f in os.walk(d))
        self.records.append(rec)
        self.spans.extend(s.as_dict() for s in spans)
        t.op = None


def op_record(spans, jobs: list[dict], reader) -> dict:
    main = [s for s in spans if s.main]
    child = defaultdict(float)
    for s in main:
        if s.parent is not None:
            child[s.parent] += s.t1 - s.t0
    rec: dict = defaultdict(float)
    for s in main:
        own = (s.t1 - s.t0) - child[s.id]
        if s.layer == "bench":
            rec["bench"] += own
        elif s.layer == "spark":
            rec["spark.action_s"] += own
        else:
            rec[s.layer] += own
        if s.layer == "pipeline":
            rec[f"pipeline.{s.sub}.self_s"] += own
        if s.name == "build":
            rec["construct_s"] += s.t1 - s.t0
        if s.name.startswith("op:"):
            rec["wall_s"] = s.t1 - s.t0
        if s.layer == "client":
            rec["client.requests"] += 1
            rec["client.rtt_s"] += s.t1 - s.t0
        if s.layer == "streaming" and s.name.startswith("ingest_"):
            rec["streaming.ingest_s"] += s.t1 - s.t0
    # store reads run on the server's handler thread
    for s in spans:
        if s.layer == "streaming" and s.name.startswith("read_"):
            rec["streaming.read_s"] += s.t1 - s.t0
    _attribute_jobs(rec, main, jobs, reader)
    return dict(rec)


def _within(spans, t: float, pred) -> bool:
    eps = 0.002  # job submission times have millisecond resolution
    return any(pred(s) and s.t0 + _PERF_TO_EPOCH - eps <= t
               <= s.t1 + _PERF_TO_EPOCH + eps for s in spans)


def _attribute_jobs(rec, main, jobs, reader) -> None:
    rec["spark.jobs"] = float(len(jobs))
    stage_ids = set()
    for j in jobs:
        stage_ids.update(j["stage_ids"])
        t = j["submitted"]
        if t is None:
            continue
        if _within(main, t, lambda s: s.layer == "sources"):
            rec["sources.bind_jobs"] += 1
        if _within(main, t, lambda s: s.layer == "pipeline"):
            rec["pipeline.jobs"] += 1
        if _within(main, t, lambda s: s.layer == "streaming"
                   and s.name.startswith("ingest_")):
            rec["streaming.ingest_jobs"] += 1
        if _within(main, t, lambda s: s.layer == "spark"):
            rec["action_jobs"] += 1
    for sid in stage_ids:
        st = reader.stage(sid)
        if st is None or st["status"] == "SKIPPED":
            continue
        rec["spark.stages"] += 1
        for f in SPARK_FIELDS:
            rec[f"spark.{f}"] += st[f]


def per_pass(records: list[dict], key: str, passes: int) -> float:
    """Mean per measured pass (the traced window holds whole passes)."""
    return sum(r.get(key, 0.0) for r in records) / max(1, passes)


def summarize(bench, args, plain, records, spans, host_report, untraced,
              traced) -> tuple:
    """The per-layer metric dict (name -> (value, unit)) and report;
    ``untraced`` and ``traced`` are the two halves' end-to-end
    metrics."""
    keymap = {"sources.bind_s": "sources", "core.build_s": "core",
              "pipeline.self_s": "pipeline",
              "bench.overhead_s": "bench",
              "cache.persists": "persists",
              "wire.response_mb": "response_mb",
              "streaming.files_written": "files_written"}
    metrics = {}
    for name, unit in per_layer_metrics():
        if name == "cache.live_after_op":
            v = float(max((r["live_after_op"] for r in records), default=0))
        elif name == "streaming.store_mb_per_input_mb":
            v = _store_ratio(bench)
        elif name == "streaming.write_p50_s":
            w = [s["lat"] for s in plain if s["kind"] == "write"]
            v = statistics.median(w) if w else 0.0
        elif name == "trace.overhead_s":
            v = traced["pass_s"] - untraced["pass_s"]
        else:
            v = per_pass(records, keymap.get(name, name),
                         len(traced["passes"]))
        metrics[name] = (v, unit)

    report = [host_report,
              f"# untraced pass_s {untraced['pass_s']:.4f} s, traced "
              f"pass_s {traced['pass_s']:.4f} s, tracing overhead "
              f"{traced['pass_s'] - untraced['pass_s']:+.4f} s"]
    for name, (v, u) in metrics.items():
        report.append(f"{args.workload} {name} {v:.4f} {u}")
    report += _accounting(records)
    path = _write_trace(bench, args, records, spans)
    report.append(f"# spans and per-op records: {path}")
    return metrics, report


def _accounting(records: list[dict]) -> list[str]:
    """Per op: wall = layer self times + action + benchmark overhead,
    and the per-op record fields (medians over samples)."""
    out = ["# per op (median over samples): wall = sources + core + "
           "pipeline + streaming + client + action + overhead"]
    by_op = defaultdict(list)
    for r in records:
        by_op[r["op"]].append(r)
    for op, rs in sorted(by_op.items()):
        def med(k):
            return statistics.median(r.get(k, 0.0) for r in rs)
        parts = {k: med(k) for k in SELF_LAYERS}
        shuffle = med("spark.shuffle_read_mb") + med("spark.shuffle_write_mb")
        out.append(
            f"# op {op}: wall {med('wall_s'):.3f} = "
            + " + ".join(f"{k} {v:.3f}" for k, v in parts.items())
            + f" + action {med('spark.action_s'):.3f}"
            + f" + overhead {med('bench'):.3f}"
            + f" | construct_s {med('construct_s'):.3f}"
            f" action_s {med('spark.action_s'):.3f}"
            f" jobs {med('spark.jobs'):.0f} stages {med('spark.stages'):.0f}"
            f" tasks {med('spark.tasks'):.0f} run_s {med('spark.run_s'):.3f}"
            f" cpu_s {med('spark.cpu_s'):.3f} shuffle_mb {shuffle:.3f}"
            f" spill_mb {med('spark.spill_mb'):.3f} (n={len(rs)})")
    return out


def _store_ratio(bench) -> float:
    """Bytes on disk of the counts store per byte of document text it
    holds (every batch is in the store after the warm pass)."""
    ctx = bench.ctx
    if getattr(ctx, "store", None) is None:
        return 0.0
    stored = sum(os.path.getsize(os.path.join(d, f))
                 for d, _, fs in os.walk(ctx.store) for f in fs)
    import pyarrow.parquet as pq

    text = pq.read_table(os.path.join(ctx.data_dir, "documents.parquet"),
                         columns=["text"]).column("text").to_pylist()
    return stored / max(1, sum(len(t.encode()) for t in text))


def _write_trace(bench, args, records, spans) -> str:
    out_dir = bench.work.parent / "traces"
    os.makedirs(out_dir, exist_ok=True)
    path = out_dir / f"{args.workload}-seed{args.seed}.json"
    with open(path, "w") as fh:
        json.dump({"workload": args.workload, "seed": args.seed,
                   "records": records, "spans": spans}, fh)
    return os.path.relpath(path, bench.work.parent.parent)
