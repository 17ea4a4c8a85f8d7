"""Local replica of the driver's DuckDB-oracle correctness gate.

Runs every ``queries()`` entry and its ``oracle_sql()`` twin at a given
scale factor; compares row count, column names, and an
order-insensitive value comparison (sorted rows, 1e-9 double
tolerance). Usage::

    python tools/parity.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from remote_storage_adapter_spark.session import get_spark  # noqa: E402
from remote_storage_adapter_spark.sources.tables import TABLES  # noqa: E402
import __spark_entry__ as entrymod  # noqa: E402


def duck_con(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    if hasattr(v, "timestamp"):  # datetime
        return v.isoformat()
    try:  # Decimal → float
        import decimal

        if isinstance(v, decimal.Decimal):
            return round(float(v), 9)
    except Exception:
        pass
    return v

def _rows(rows, cols):
    out = []
    for r in rows:
        out.append(tuple(_norm_cell(v) for v in r))
    return sorted(out, key=lambda t: tuple(str(x) for x in t))


def compare(name: str, spark, con, sf_dir: str, verbose: bool = True):
    fn = entrymod.queries()[name]
    sql = entrymod.oracle_sql().get(name)
    return compare_fn(fn, sql, spark, con, sf_dir, name=name,
                      verbose=verbose)


def compare_fn(fn, sql, spark, con, sf_dir: str, *, name: str = "?",
               verbose: bool = True):
    """Registry-independent parity check: run an arbitrary
    (spark, sf_dir) -> DataFrame callable against a DuckDB oracle SQL
    string with the driver's own comparison semantics (columns sorted
    by name, order-insensitive rows, 1e-9 float tolerance). Lets
    pytest lock q_* functions that are NOT registry rows (merged-row
    legs, twins) to their oracles."""
    t0 = time.time()
    sdf = fn(spark, sf_dir)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    spark_s = time.time() - t0
    if sql is None:
        status = "ROWS_ONLY" if len(srows) >= 0 else "FAIL"
        if verbose:
            print(f"{name:28s} {status}  rows={len(srows)}  ({spark_s:.1f}s)")
        return True
    cur = con.execute(sql)
    ocols = [d[0] for d in cur.description]
    orows = cur.fetchall()
    # driver sorts columns by name before hashing
    sidx = [scols.index(c) for c in sorted(scols)]
    oidx = [ocols.index(c) for c in sorted(ocols)]
    a = _rows([[r[i] for i in sidx] for r in srows], sorted(scols))
    b = _rows([[r[i] for i in oidx] for r in orows], sorted(ocols))
    ok = sorted(scols) == sorted(ocols) and a == b
    if verbose:
        mark = "OK " if ok else "FAIL"
        print(f"{name:28s} {mark}  rows={len(srows)}/{len(orows)}  ({spark_s:.1f}s)")
    if not ok:
        if sorted(scols) != sorted(ocols):
            print(f"   cols spark={sorted(scols)} oracle={sorted(ocols)}")
        else:
            shown = 0
            for x, y in zip(a, b):
                if x != y and shown < 3:
                    print(f"   spark  {x}\n   oracle {y}")
                    shown += 1
            if len(a) != len(b):
                only_a = set(a) - set(b)
                only_b = set(b) - set(a)
                for x in list(only_a)[:2]:
                    print(f"   only-spark  {x}")
                for x in list(only_b)[:2]:
                    print(f"   only-oracle {x}")
    return ok


def main():
    args = [a for a in sys.argv[1:]]
    sf_dir = args.pop(0) if args and args[0].startswith("/") else "/root/testdata/sf0.01"
    spark = get_spark("parity")
    spark.sparkContext.setLogLevel("ERROR")
    con = duck_con(sf_dir)
    names = args or list(entrymod.queries())
    failures = []
    for name in names:
        try:
            if not compare(name, spark, con, sf_dir):
                failures.append(name)
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"{name:28s} ERROR {type(e).__name__}: {str(e)[:300]}")
    print(f"\n{len(names) - len(failures)}/{len(names)} parity-clean")
    if failures:
        print("failures:", " ".join(failures))
        sys.exit(1)


if __name__ == "__main__":
    main()
