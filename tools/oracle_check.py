"""Spark-vs-DuckDB correctness gate: runs every contract query registered in
``__spark_entry__`` on Spark AND its DuckDB oracle twin over the same parquet
dir, then compares row count, sorted column names, and an order-insensitive
value hash (floats at full shortest-round-trip precision, NaN/None
canonicalized — strict).  ``tests/test_contract_oracle.py`` runs the same
comparison per query on sf0.001.

Usage: python tools/oracle_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon_cell(v):
    if v is None:
        return "∅"
    if isinstance(v, float):
        if v != v:
            return "NaN"
        # full precision (shortest round-trip repr), matching the driver's
        # strict hash — any last-ulp cross-engine difference must FAIL here
        return repr(v)
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_cell(x) for x in v) + "]"
    return str(v)


def _canon_lines(cols: list[str], rows: list[tuple]) -> list[str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(canon_cell(r[i]) for i in order) for r in rows)


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    h = hashlib.md5()
    for ln in _canon_lines(cols, rows):
        h.update(ln.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


def duck_rows_pandas_path(rel) -> list[tuple]:
    """Fetch a DuckDB relation the way the DRIVER does: via ``.df()`` (pandas).

    This is the path that exposed the round-2 HUGEINT bug: ``fetchall()``
    yields Python ints for HUGEINT sums, but pandas has no int128 dtype so
    ``.df()`` coerces the column to float64 — ``26100`` becomes ``26100.0``
    and the strict hash diverges from Spark's BIGINT.  Fetching here through
    pandas (numpy scalars unwrapped with ``.item()``, exactly the coercion
    the driver sees) makes local green predict driver green.
    """
    import numpy as np
    import pandas as pd

    def conv(x):
        if isinstance(x, np.ndarray):
            return [conv(v) for v in x.tolist()]
        if isinstance(x, np.generic):
            return x.item()
        if x is pd.NaT:
            return None
        if isinstance(x, pd.Timestamp):
            return x.to_pydatetime()
        return x

    df = rel.df()
    return [
        tuple(conv(x) for x in row)
        for row in df.itertuples(index=False, name=None)
    ]


def duck_connection(sf_dir: str):
    """In-memory DuckDB with one view per test table present in ``sf_dir``."""
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def compare(scols, srows, dcols, drows) -> list[str]:
    """Differences between the Spark and DuckDB results: row count, sorted
    lower-cased column names, value hash (with the first differing row).
    Empty when they agree."""
    scols = [c.lower() for c in scols]
    dcols = [c.lower() for c in dcols]
    problems = []
    if len(srows) != len(drows):
        problems.append(f"rows {len(srows)}/{len(drows)}")
    if sorted(scols) != sorted(dcols):
        return problems + [f"columns spark {scols} / duck {dcols}"]
    if value_hash(scols, srows) != value_hash(dcols, drows):
        problems.append("value hash differs")
        sset = _canon_lines(scols, srows)
        dset = _canon_lines(dcols, drows)
        for a, b in zip(sset, dset):
            if a != b:
                problems.append(f"spark: {a[:220]}\n   duck : {b[:220]}")
                break
    return problems


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from html_parser_spark.spark.session import get_spark

    spark = get_spark(app_name="oracle-check", shuffle_partitions=8)
    con = duck_connection(sf_dir)
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in entrymod.queries().items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error {type(e).__name__}: {e}")
            failures.append(name)
            continue
        try:
            rel = con.sql(oracles[name])
            dcols = rel.columns
            drows = duck_rows_pandas_path(rel)
        except Exception as e:
            print(f"FAIL {name}: duckdb error {e}")
            failures.append(name)
            continue
        problems = compare(scols, srows, dcols, drows)
        status = "FAIL" if problems else "OK  "
        print(f"{status} {name}: rows {len(srows)}/{len(drows)} ({time.time()-t0:.1f}s)")
        for pr in problems:
            print(f"   {pr}")
        if problems:
            failures.append(name)
    spark.stop()
    print("FAILURES:", failures or "none")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
