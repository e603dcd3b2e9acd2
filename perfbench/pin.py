#!/usr/bin/env python3
"""Regenerate ``perfbench/expected.json``, the digest every op is
checked against.

    python3 perfbench/pin.py

Runs each workload's ops twice on the benchmark's tables (the two
digests must agree) and, where a DuckDB twin exists, compares the full
result with DuckDB over the same parquet files using
``tools/check_oracles.py``'s ``compare``.  Ops with a twin are recorded
as ``duckdb``, the others as ``self-pinned`` (their digest is the
program's own output at the time of pinning).  Needs ``duckdb``.
"""

from __future__ import annotations

import json
import shutil
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from perfbench import run as bench_run  # noqa: E402


def _result_frame(ctx, op, built):
    """The op's full result, shaped as ``tools/check_oracles.py`` sees
    a registry entry's."""
    if op.kind == "query":
        return built.toPandas()
    pdf = built.compute()
    return ctx.spark.createDataFrame(pdf, schema=built.df.schema).toPandas()


def pin_workload(workload: str, data_dir: str, work: Path) -> dict:
    import duckdb

    from tools.check_oracles import TABLES, compare

    from perfbench import workloads as wl

    args = type("A", (), {"workload": workload, "trace": 0})()
    bench = bench_run.Bench(args, work)
    out = {}
    try:
        bench.ctx = bench._setup_once()
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{data_dir}/{t}.parquet')")
        oracles = wl.oracle_sql()
        digests = {}
        for rep in range(2):
            for op, arg in wl.warm_order(workload):
                built = op.build(bench.ctx, arg)
                got = list(op.digest(bench.ctx, op.run(bench.ctx, built)))
                key = op.name
                if key in digests and digests[key] != got:
                    raise SystemExit(f"{workload}/{key}: digest not "
                                     f"repeatable: {digests[key]} {got}")
                digests[key] = got
        for op, arg in wl.warm_order(workload):
            if op.name in out:
                continue
            rows, digest = digests[op.name]
            check = "self-pinned"
            if op.kind != "write" and op.name in oracles:
                sdf = _result_frame(bench.ctx, op, op.build(bench.ctx, arg))
                issues = compare(op.name, sdf, con.execute(
                    oracles[op.name]).fetchdf())
                if issues:
                    raise SystemExit(f"{workload}/{op.name} disagrees with "
                                     f"DuckDB: {issues[:3]}")
                check = "duckdb"
            out[op.name] = {"rows": rows, "digest": digest, "check": check}
            print(f"{workload:10s} {op.name:32s} {rows:6d} {digest} {check}",
                  flush=True)
    finally:
        bench._teardown()
    return out


def main() -> int:
    from perfbench import datagen
    from perfbench import workloads as wl

    work = bench_run.prepare()
    data_dir = str(work / "data")
    try:
        datagen.write(data_dir, bench_run.DATA_SEED)
        ops = {w: pin_workload(w, data_dir, work)
               for w in wl.TABLES}
    finally:
        bench_run.stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    with open(wl.EXPECTED_PATH, "w") as fh:
        json.dump({"data_seed": bench_run.DATA_SEED, "ops": ops}, fh,
                  indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
