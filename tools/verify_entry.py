"""Local mimic of the driver's correctness gate: run every
__spark_entry__.queries() entry at sf0.01 and compare with the
oracle_sql() DuckDB result — row count, column names, and an
order-insensitive value hash computed over ARROW-typed values.

Both sides are collected as Arrow tables (Spark `DataFrame.toArrow()`,
DuckDB `.arrow()`) and each cell is canonicalized via `repr()` of its
`to_pylist()` Python value, so type-level divergence is visible:
DuckDB HUGEINT -> decimal128 -> Decimal('5') hashes differently from
Spark int64 -> 5 even when numerically equal.  (Round-3 lesson: the
old repr-of-collect() path coerced both to plain ints and masked
exactly the `sessions_by_user` driver failure.)"""

from __future__ import annotations

import hashlib
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# the Python workers Spark starts import the package too
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)

import duckdb

import __spark_entry__ as entrymod
from top2vec_spark.session import get_spark

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[2:])  # optional query names to restrict to
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def canon(v):
    # repr distinguishes int vs Decimal vs float, -0.0 vs 0.0, and
    # datetime tz-ness — the categories the driver's hash is sensitive to.
    if isinstance(v, float):
        return repr(v)
    return repr(v)


def arrow_hash(table):
    """Order-insensitive value hash over an Arrow table (cols sorted by name)."""
    cols = table.column_names
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    pycols = [table.column(i).to_pylist() for i in order]
    lines = sorted(
        "|".join(canon(c[r]) for c in pycols) for r in range(table.num_rows)
    )
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def driver_canon_check(table):
    """Mimic the driver's canonicalization path EXACTLY where it can
    fail: the driver collects the result to pandas and row-sorts it via
    DataFrame.sort_values over all columns (name-sorted).  sort_values
    factorizes object columns through a hash table, so an un-hashable
    cell (list/dict/ndarray) raises TypeError — the round-4 `doc_tokens`
    red row failed HERE in the driver while the local repr-based hash
    passed.  Run the same operation locally so any un-sortable result
    shape fails before the driver sees it.  Raises on failure."""
    pdf = table.to_pandas()
    cols = sorted(pdf.columns)
    pdf[cols].sort_values(by=cols)  # raises TypeError on unhashable cells


def main():
    wall0 = time.time()
    spark = get_spark(parallelism=8, app_name="verify_entry")
    con = duckdb.connect()
    for t in TABLES:
        try:
            con.sql(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
            )
        except Exception:
            pass

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    unknown = ONLY - qs.keys()
    if unknown:
        print(f"unknown query names: {sorted(unknown)}")
        print(f"valid names: {sorted(qs)}")
        sys.exit(2)
    failures = 0
    walls = {}  # row name -> wall seconds
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        t0 = time.time()
        sdf = fn(spark, SF_DIR)
        stab = sdf.toArrow()
        elapsed = time.time() - t0
        if name not in oracles:
            print(
                f"{name:24s} rows={stab.num_rows:6d}  (no oracle, rows-only) {elapsed:.1f}s"
            )
            walls[name] = time.time() - t0
            continue
        dtab = con.sql(oracles[name]).arrow()
        try:
            driver_canon_check(stab)
            driver_canon_check(dtab)
            canon_err = None
        except Exception as exc:  # driver would error this row
            canon_err = f"{type(exc).__name__}: {exc}"
        ok_rows = stab.num_rows == dtab.num_rows
        ok_cols = sorted(stab.column_names) == sorted(dtab.column_names)
        sh, dh = arrow_hash(stab), arrow_hash(dtab)
        ok_hash = sh == dh
        status = (
            "OK " if (ok_rows and ok_cols and ok_hash and canon_err is None) else "FAIL"
        )
        if canon_err is not None:
            print(f"{name:24s} DRIVER-CANON-FAIL {canon_err}")
        if status == "FAIL":
            failures += 1
        print(
            f"{name:24s} {status} rows {stab.num_rows}/{dtab.num_rows} cols={ok_cols} "
            f"hash {sh}/{dh} {elapsed:.1f}s"
        )
        if status == "FAIL":
            print("  spark  schema:", stab.schema)
            print("  duckdb schema:", dtab.schema)
            if stab.num_rows <= 20:
                srows = sorted(repr(tuple(d.values())) for d in stab.to_pylist())
                drows = sorted(repr(tuple(d.values())) for d in dtab.to_pylist())
                print("  spark :", srows[:10])
                print("  duckdb:", drows[:10])
        walls[name] = time.time() - t0

    if not ONLY:
        # smoke entry()
        e = entrymod.entry(spark)
        n = e.count()
        print(f"entry() rows={n} schema={e.schema.simpleString()}")
    # a row's wall time covers the Spark run, the DuckDB oracle and the checks
    print(f"total wall {time.time() - wall0:.1f}s, {len(walls)} rows")
    slow = sorted(walls.items(), key=lambda kv: -kv[1])[:5]
    print("slowest rows: " + ", ".join(f"{k} {v:.1f}s" for k, v in slow))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
