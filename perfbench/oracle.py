"""Oracle gate: compare collected Spark rows with each query's
``oracle_sql()`` run on DuckDB over the same generated parquet files.

The comparison is the repository's correctness gate
(``tools/check_oracles.py``, whose row canonicalization it imports):
same column names, same row count, and equal order-insensitive
multisets of canonicalized rows, with floats compared at full
precision.
"""

from __future__ import annotations

import os

from tools.check_oracles import rowset


def mismatch(scols, srows, dcols, drows) -> str | None:
    """None when the Spark result equals the oracle's, else why not."""
    if sorted(scols) != sorted(dcols):
        return f"columns spark={scols} duckdb={dcols}"
    if len(srows) != len(drows):
        return f"rowcount spark={len(srows)} duckdb={len(drows)}"
    sset, dset = rowset(scols, srows), rowset(dcols, drows)
    if sset != dset:
        only_s = sorted(set(sset) - set(dset))[:2]
        only_d = sorted(set(dset) - set(sset))[:2]
        return f"values differ: spark-only {only_s} duckdb-only {only_d}"
    return None


def oracle_rows(oracles: dict[str, str], data_dir: str, threads: int, tmp_dir: str) -> dict:
    """Run each oracle on DuckDB over the parquet files in ``data_dir``:
    name -> (columns, rows), or a one-line error string."""
    import duckdb

    con = duckdb.connect(
        config={"threads": threads, "memory_limit": "1GB", "temp_directory": tmp_dir}
    )
    try:
        for f in sorted(os.listdir(data_dir)):
            if f.endswith(".parquet"):
                path = os.path.join(data_dir, f)
                con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{path}'")
        out = {}
        for name, sql in oracles.items():
            try:
                res = con.sql(sql)
                out[name] = (res.columns, res.fetchall())
            except duckdb.Error as exc:
                out[name] = f"duckdb error: {exc}"
        return out
    finally:
        con.close()
