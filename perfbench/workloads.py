"""The benchmark's two workloads and their ops.

An op has three phases, timed together as its latency:

- ``build``: construct the expression (source binding, ``Table``
  calls, eager pipeline fits);
- ``run``: execute it -- the forcing action for registry ops, the
  ``/compute`` round trip for remote reads, the batch write for store
  writes;
- ``check``: compare the output digest with ``expected.json``.

- ``relational``: oracle-backed core-relational registry ops -- Blaze's
  own surface, where source binding and expression construction are a
  large share of each op and no pipeline operator runs.
- ``pipeline``: in-process LLM-data operators (eager fits, Arrow UDFs,
  caches, the library's two-wide chunk pools) beside a long-lived
  ``BlazeSparkServer`` that one ``Client`` reads from, with LM-count
  batches written into the counts store those reads score against.

Registry ops (``__spark_entry__.queries()`` entries) are forced with
``bench.py``'s action: one aggregate row of ``count(*)`` and
``bit_xor(xxhash64(every column))``.  A remote read's digest is the row
count plus an order-free hash of its pandas result.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from pathlib import Path
from typing import Any, Callable

import numpy as np
import pandas as pd

HERE = Path(__file__).resolve().parent
EXPECTED_PATH = HERE / "expected.json"

RELATIONAL = [
    "q01_pricing_summary", "q03_shipping_priority", "q05_local_supplier",
    "q06_revenue_forecast", "q13_style_order_distribution",
    "asof_click_before_purchase",
]
# in-process pipeline ops: similarity, selection, curation
PIPELINE = ["batched_topk_embeddings", "dsir_weights_docs",
            "c4_clean_docs"]
TABLES = {
    "relational": ["region", "nation", "customer", "supplier", "part",
                   "orders", "lineitem", "events"],
    "pipeline": ["documents", "embeddings", "orders"],
}
# datasets the pipeline workload's server registers by name
SERVED = ["documents", "orders"]
# the LM counts store: documents split into fixed batches by doc_id,
# each written under its own batch id (a rewrite of a batch replaces
# it, so the store's content is the union of batches written)
N_BATCHES = 3
WRITES_PER_PASS = 2
LM_BUCKETS = 1024
LM_ORDER = 2


@dataclass
class Op:
    name: str
    build: Callable[[Any, Any], Any]
    run: Callable[[Any, Any], Any]
    digest: Callable[[Any, Any], tuple[int, str]]
    kind: str = "query"  # "query" | "read" | "write"
    run_layer: str = "spark"  # span layer of the run phase


# -- digests ----------------------------------------------------------------

def force(df) -> tuple[int, str]:
    """``bench.py``'s forcing action: every output column is hashed, so
    Catalyst cannot prune any part of the plan."""
    from pyspark.sql import functions as F

    cols = [F.col(c).cast("string") if t.startswith("map<") else F.col(c)
            for c, t in df.dtypes]
    row = df.agg(F.count(F.lit(1)).alias("n"),
                 F.bit_xor(F.xxhash64(*cols)).alias("h")).collect()[0]
    h = row["h"]
    return int(row["n"]), "null" if h is None else f"{h & (2**64 - 1):016x}"


def frame_digest(pdf: pd.DataFrame) -> tuple[int, str]:
    """Row count and an order-free hash of a pandas result: columns by
    name, one 64-bit hash per row, summed mod 2**64 (duplicates count)."""
    df = pdf[sorted(pdf.columns)].reset_index(drop=True)
    h = pd.util.hash_pandas_object(df, index=False).to_numpy(np.uint64)
    return len(df), f"{int(h.sum(dtype=np.uint64)):016x}"


def load_expected() -> dict:
    with open(EXPECTED_PATH) as fh:
        return json.load(fh)["ops"]


# -- registry ops -------------------------------------------------------------

def registry_op(name: str) -> Op:
    return Op(name,
              build=lambda ctx, _a: ctx.registry[name](ctx.spark,
                                                       ctx.data_dir),
              run=lambda ctx, df: force(df),
              digest=lambda ctx, out: out)


# -- remote reads and store writes -------------------------------------------

def _roundtrip(ctx, _a):
    rt = ctx.client["orders"]
    return rt[rt.o_totalprice > 300000.0][
        ["o_orderkey", "o_custkey", "o_totalprice"]].sort("o_orderkey")


def _curation(ctx, _a):
    from blaze_spark import pipeline as pl

    rt = ctx.client["documents"]
    q = pl.fingerprint(pl.quality_features(rt))
    f = q[q.n_tokens >= 5].hash_sample(0.5, on="doc_id")
    return f.transform(lang_u=f.lang.str.upper())[
        ["doc_id", "lang_u", "n_tokens", "quality", "fingerprint"]
    ].sort("doc_id")


def _store_lm(ctx, _a):
    from blaze_spark import pipeline as pl
    from blaze_spark.streaming import incremental_counts as ic

    rt = ctx.client["documents"]
    leaf = ic.read_lm_counts(ctx.spark, f"{ctx.url}::lm",
                             n_buckets=LM_BUCKETS, n=LM_ORDER)
    return pl.ngram_lm_logprob(rt, counts=leaf, n_buckets=LM_BUCKETS,
                               n=LM_ORDER).sort("doc_id")


def _batch(ctx, b):
    d = ctx.docs
    return b, d[d.doc_id % N_BATCHES == b]


def _ingest(ctx, built):
    from blaze_spark.streaming import incremental_counts as ic

    b, batch = built
    ic.ingest_lm_counts_batch(batch, ctx.store, n_buckets=LM_BUCKETS,
                              n=LM_ORDER, batch_id=b)
    return b


def _ingest_digest(ctx, b) -> tuple[int, str]:
    """A write is correct when its batch directory is complete; the
    store's content is checked by ``store_lm`` reads."""
    d = os.path.join(ctx.store, f"ingest={b}")
    ok = os.path.exists(os.path.join(d, "_SUCCESS"))
    return 1, "complete" if ok else "incomplete"


def _read(name, build) -> Op:
    return Op(name, build=build, run=lambda ctx, expr: expr.compute(),
              digest=lambda ctx, pdf: frame_digest(pdf), kind="read",
              run_layer="bench")


REMOTE_READS = [
    _read("roundtrip", _roundtrip),
    _read("curation", _curation),
    _read("store_lm", _store_lm),
]
INGEST = Op("ingest", build=_batch, run=_ingest, digest=_ingest_digest,
            kind="write", run_layer="bench")


def ops(workload: str) -> list[Op]:
    """One pass's ops (a write appears once per write in the pass)."""
    if workload == "relational":
        return [registry_op(n) for n in RELATIONAL]
    return ([registry_op(n) for n in PIPELINE] + REMOTE_READS
            + [INGEST] * WRITES_PER_PASS)


def warm_order(workload: str) -> list[tuple[Op, Any]]:
    """An untimed warm pass: writes first, so the store holds every
    batch before the first store read, then every other op once."""
    writes = [(INGEST, b) for b in range(N_BATCHES)]
    return ([] if workload == "relational" else writes) + [
        (op, None) for op in ops(workload) if op.kind != "write"]


def pass_order(workload: str, rng) -> list[tuple[Op, Any]]:
    """One measured pass: the workload's ops in a seeded order; each
    write rewrites a seeded batch."""
    order = list(ops(workload))
    rng.shuffle(order)
    return [(op, rng.randrange(N_BATCHES) if op.kind == "write" else None)
            for op in order]


def oracle_sql() -> dict[str, str]:
    """DuckDB twins for ``pin.py``: the registry's, plus the remote
    reads, which mirror ``blaze_client_*`` entries and reuse their
    oracles (``store_lm`` reads a full store, whose sum equals the
    one-shot fit ``blaze_client_store_lm`` checks)."""
    import __spark_entry__ as entry

    o = entry.oracle_sql()
    return {**o,
            "roundtrip": o["blaze_client_roundtrip"],
            "curation": o["blaze_client_curation"],
            "store_lm": o["blaze_client_store_lm"]}
