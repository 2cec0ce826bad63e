"""Correctness gate: DuckDB reference digests and the canonical digest of
a Spark result.

A result's digest is taken the way ``tests/oracle_utils.compare`` compares
rows: columns sorted by name, every value rendered by
``minarrow_spark._canon.canon_value``, rows sorted. Two results match when
their sorted column names, row counts and SHA-256 digests are equal.

References are computed once per input scale over the driver's tables in
their own row order and cached on disk. The benchmark seed only permutes
rows, and the registry requires every query to be independent of row
order, so one reference serves every seed; each run therefore also checks
that independence.
"""

from __future__ import annotations

import hashlib
import json
import os

from minarrow_spark._canon import canon_value

_BAD_TYPES = {"HUGEINT", "UHUGEINT", "UBIGINT", "UINTEGER", "USMALLINT", "UTINYINT"}


def digest(columns: list[str], rows: list[tuple]) -> dict:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted("\x1f".join(canon_value(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\x1e".join(canon).encode()).hexdigest()
    return {"columns": sorted(columns), "rows": len(rows), "sha256": h}


def _duckdb_digest(con, sql: str) -> dict:
    rel = con.sql(sql)
    bad = [t for t in map(str, rel.types) if t in _BAD_TYPES]
    if bad:
        raise TypeError(f"oracle emits non-portable integer types {bad}")
    return digest(list(rel.columns), rel.fetchall())


def references(cache: str, data_dir: str, data_key: str,
               oracles: dict[str, str]) -> dict[str, dict]:
    """Reference digest per query for the tables in ``data_dir``, cached in
    ``cache`` under a key of ``data_key`` (the tables' fingerprint) and
    every oracle's SQL."""
    import duckdb

    key = hashlib.sha256(json.dumps([data_key, sorted(oracles.items())]).encode()).hexdigest()[:16]
    path = os.path.join(cache, f"ref-{key}.json")
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    con = duckdb.connect()
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.execute(
                f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                f"read_parquet('{os.path.join(data_dir, f)}')"
            )
    refs = {name: _duckdb_digest(con, sql) for name, sql in sorted(oracles.items())}
    con.close()
    os.makedirs(cache, exist_ok=True)
    with open(path + ".tmp", "w") as fh:
        json.dump(refs, fh)
    os.replace(path + ".tmp", path)
    return refs


def check(result: dict, ref: dict | None) -> str | None:
    """None when ``result`` matches ``ref``, else the reason it does not."""
    if ref is None:
        return "no reference"
    for k in ("columns", "rows", "sha256"):
        if result[k] != ref[k]:
            return f"{k} differ: spark={result[k]!r} duckdb={ref[k]!r}"
    return None
