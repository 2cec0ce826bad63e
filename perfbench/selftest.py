"""Self-test of the benchmark at sf0.001.

Usage, from the repository root:

    python3 perfbench/selftest.py

Runs every workload once untraced and once traced at the smallest input
scale, each with the fewest passes the workload allows. Checks that each
seeded input table has its source table's schema, parquet column types and
rows, in another order; that the last stdout line has the result shape the benchmark promises, that every
metric appears with its unit, that end-to-end metrics are positive, and,
for the traced runs, that every span's parent exists and every span's
self time is non-negative. Exits non-zero on the first failed check.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402

SF, SEED = 0.001, 7


def _result(workload: str, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(SEED), "--seconds", "1", "--trace", str(trace), "--sf", str(SF)]
    out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=600)
    if out.returncode != 0:
        raise SystemExit(f"{workload} trace={trace}: exit {out.returncode}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def _check_result(res: dict, units: dict, positive: bool, label: str) -> None:
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, label
    assert isinstance(res["attempted"], int) and res["attempted"] >= 1, label
    assert isinstance(res["failed"], int) and 0 <= res["failed"] <= res["attempted"], label
    assert set(res["metrics"]) == set(units), (label, set(res["metrics"]) ^ set(units))
    for name, m in res["metrics"].items():
        assert set(m) == {"value", "unit"} and m["unit"] == units[name], (label, name, m)
        assert isinstance(m["value"], (int, float)) and math.isfinite(m["value"]), (label, name)
        assert not positive or m["value"] > 0, (label, name, m)


def _check_spans(path: str) -> int:
    with open(path) as fh:
        spans = [json.loads(line) for line in fh]
    ids = {s["id"] for s in spans}
    for s in spans:
        assert s["parent"] is None or s["parent"] in ids, ("missing parent", s)
        assert s["parent"] is not None or s["layer"] == "query", ("unparented span", s)
        assert s["self"] >= 0 and s["t1"] >= s["t0"], ("negative time", s)
    return len(spans)


def _check_inputs() -> None:
    import datagen
    import pyarrow.parquet as pq

    src = datagen.source(SF)
    out = datagen.ensure(os.path.join(os.getcwd(), ".perfbench"), SF, SEED)
    files = sorted(f for f in os.listdir(src) if f.endswith(".parquet"))
    assert files == sorted(os.listdir(out)), (files, os.listdir(out))
    moved = 0
    for f in files:
        a, b = pq.ParquetFile(os.path.join(src, f)), pq.ParquetFile(os.path.join(out, f))
        assert a.schema_arrow.equals(b.schema_arrow, check_metadata=True), f
        assert a.schema.equals(b.schema), f  # physical and logical parquet types
        ta, tb = a.read(), b.read()
        keys = [(c, "ascending") for c in ta.column_names if c != "embedding"]
        assert ta.sort_by(keys).equals(tb.sort_by(keys)), f
        moved += not ta.equals(tb)
    assert moved, "the seed permuted no table"


def main() -> int:
    _check_inputs()
    for workload in run.WORKLOADS:
        res = _result(workload, 0)
        _check_result(res, run.END_TO_END_UNITS, True, f"{workload} end-to-end")
        res = _result(workload, 1)
        _check_result(res, run.PER_LAYER_UNITS, False, f"{workload} per-layer")
        n = _check_spans(run.trace_stem(os.getcwd(), workload, SF, SEED) + ".spans.jsonl")
        print(f"selftest {workload}: ok ({n} spans; correct={res['correct']}, "
              f"failed={res['failed']}/{res['attempted']})", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
