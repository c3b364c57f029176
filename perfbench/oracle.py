"""Correctness gate for the query workloads.

Each registered query is checked against its DuckDB oracle
(``registry.ORACLES``) with the canonical comparison of
``tests/oracle_diff.py``. The oracle side is expensive and never changes for
a given SQL text and input, so its summary (columns, row count, pandas dtype
kinds and a digest of the canonical row set) is cached in
``perfbench/.oracle_cache``, keyed by DuckDB version, oracle SQL and the
bytes of the input files. The Spark side is compared against that summary;
any disagreement is re-judged by ``oracle_diff.compare`` itself (the
caller re-runs it), whose verdict and message are the ones reported.
"""

from __future__ import annotations

import hashlib
import json
import os

from tests import oracle_diff


def _digest(cols: list[str], rows: list[tuple]) -> str:
    return hashlib.sha256(repr(oracle_diff._rowset(cols, rows)).encode()).hexdigest()


def inputs_digest(sf_dir: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(sf_dir)):
        if name.endswith(".parquet"):
            h.update(name.encode())
            with open(os.path.join(sf_dir, name), "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def expected(cache_dir: str, sf_dir: str, oracles: dict[str, str]) -> dict[str, dict]:
    """Oracle summaries for every query in ``oracles``, from the cache when
    present, else computed with DuckDB and stored."""
    import duckdb

    os.makedirs(cache_dir, exist_ok=True)
    base = f"{duckdb.__version__}\0{inputs_digest(sf_dir)}\0"
    out: dict[str, dict] = {}
    for name, sql in oracles.items():
        key = hashlib.sha256((base + sql).encode()).hexdigest()[:32]
        path = os.path.join(cache_dir, f"{key}.json")
        try:
            with open(path) as f:
                out[name] = json.load(f)
            continue
        except (OSError, ValueError):
            pass
        con = oracle_diff.duckdb_conn(sf_dir)
        try:
            res = con.execute(sql)
            cols = [d[0] for d in res.description]
            rows = res.fetchall()
            ddf = con.execute(sql).df()
        finally:
            con.close()
        summary = {
            "cols": sorted(cols),
            "rows": len(rows),
            "kinds": {c: ddf[c].dtype.kind for c in ddf.columns},
            "digest": _digest(cols, rows),
        }
        tmp = f"{path}.tmp{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(summary, f)
        os.replace(tmp, path)
        out[name] = summary
    return out


def quick_check(exp: dict, sdf, srows: list[tuple]) -> bool:
    """True when collected Spark rows agree with the cached oracle summary
    under every rule ``oracle_diff.compare`` applies."""
    scols = sdf.columns
    for i in range(len(scols)):
        cell = next((row[i] for row in srows if row[i] is not None), None)
        if isinstance(cell, (list, dict, set, bytearray)):
            return False
    skinds = oracle_diff._spark_schema_kinds(sdf)
    for i, c in enumerate(scols):
        sk, dk = skinds.get(c), exp["kinds"].get(c)
        if sk is None or dk is None or dk not in "iufb":
            continue
        if any(row[i] is None for row in srows):
            continue
        if (sk in "iub") != (dk in "iub"):
            return False
    return (
        sorted(scols) == exp["cols"]
        and len(srows) == exp["rows"]
        and _digest(scols, srows) == exp["digest"]
    )

