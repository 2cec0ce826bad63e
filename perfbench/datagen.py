"""Seeded input tables for the benchmark: row-permuted copies of the
grading driver's test tables.

``data/sf<sf>/`` next to this file holds byte-identical copies of the
driver's test data (TESTDATA.md) at the scales the benchmark reads: sf0.01
for the workloads and sf0.001 for the self-test. There is one parquet file
per table, ``<dir>/<table>.parquet``, as the engine's catalog reads them.

The benchmark seed sets only the row order. ``ensure`` writes every table
with its rows permuted by the seed, keeping the schema with its metadata,
the codec and the single row group of the originals, so Spark and DuckDB
read the same types as from the driver's files.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def source(sf: float) -> str:
    """Directory of the driver's tables at ``sf``, in their own row order."""
    path = os.path.join(DATA, f"sf{sf:g}")
    if not os.path.isdir(path):
        raise FileNotFoundError(f"no copy of the test data at sf{sf:g} under {DATA}")
    return path


def fingerprint(src: str) -> str:
    """SHA-256 over the names and bytes of ``src``'s parquet files."""
    h = hashlib.sha256()
    for f in sorted(os.listdir(src)):
        if f.endswith(".parquet"):
            h.update(f.encode())
            with open(os.path.join(src, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def write(src: str, out_dir: str, seed: int) -> None:
    """Write every table of ``src`` to ``out_dir`` with its rows permuted by
    ``seed``. Writes into a temporary sibling and renames, so an interrupted
    or concurrent run never sees a half-written directory."""
    tmp = f"{out_dir}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for i, f in enumerate(sorted(f for f in os.listdir(src) if f.endswith(".parquet"))):
        meta = pq.read_metadata(os.path.join(src, f))
        t = pq.read_table(os.path.join(src, f))
        t = t.take(np.random.default_rng([seed, i]).permutation(t.num_rows))
        codec = meta.row_group(0).column(0).compression if meta.num_row_groups else "snappy"
        pq.write_table(t, os.path.join(tmp, f), version=meta.format_version,
                       compression=codec.lower(), row_group_size=max(1, t.num_rows))
    try:
        os.rename(tmp, out_dir)
    except OSError:
        if not os.path.isdir(out_dir):
            raise
        shutil.rmtree(tmp, ignore_errors=True)  # another run wrote it first


def ensure(cache: str, sf: float, seed: int) -> str:
    """Directory holding the tables at ``sf`` in ``seed``'s row order,
    written on first use."""
    out = os.path.join(cache, f"data-sf{sf:g}", f"seed-{seed}")
    if not os.path.isdir(out):
        os.makedirs(os.path.dirname(out), exist_ok=True)
        write(source(sf), out, seed)
    return out
