"""Local stand-in for the driver's t2 correctness gate.

Runs every ``__spark_entry__.queries()`` entry at sf0.01 (or --sf DIR),
runs the matching ``oracle_sql()`` in DuckDB over the same parquet, and
compares: row count, column names (sorted), and an order-insensitive
value comparison (rows sorted by all columns, exact equality; doubles
compared to 1e-9 relative).

Usage: python tools/oracle_check.py [query ...] [--sf /root/testdata/sf0.01]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entry_mod
from tweetaggregates_spark.session import get_spark

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings".split()
)


def _norm(v):
    if isinstance(v, float):
        return round(v, 9)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    try:
        import decimal

        if isinstance(v, decimal.Decimal):
            return round(float(v), 9)
    except ImportError:
        pass
    return v


def _rows_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(_norm(r[i]) for i in order))
    return sorted(out, key=lambda t: tuple(str(x) for x in t))


def _vals_close(a, b):
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
    if isinstance(a, tuple) and isinstance(b, tuple) and len(a) == len(b):
        return all(_vals_close(x, y) for x, y in zip(a, b))
    return a == b


def main() -> int:
    argv = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.01"
    args = []
    i = 0
    while i < len(argv):
        if argv[i] == "--sf" and i + 1 < len(argv):
            sf_dir = argv[i + 1]
            i += 2
        elif argv[i].startswith("--sf="):
            sf_dir = argv[i].split("=", 1)[1]
            i += 1
        else:
            args.append(argv[i])
            i += 1

    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    spark = get_spark("oracle-check")
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    names = args or list(qs)
    failures = []
    for name in names:
        try:
            sdf = qs[name](spark, sf_dir)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: spark error: {e}")
            continue
        if name not in oracles:
            print(f"SKIP {name}: no oracle (rows-only), spark rows={len(s_rows)}")
            continue
        try:
            rel = con.sql(oracles[name])
            d_cols = rel.columns
            d_rows = rel.fetchall()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {e}")
            continue
        ok = True
        if sorted(s_cols) != sorted(d_cols):
            ok = False
            print(f"FAIL {name}: columns spark={sorted(s_cols)} duck={sorted(d_cols)}")
        elif len(s_rows) != len(d_rows):
            ok = False
            print(f"FAIL {name}: rowcount spark={len(s_rows)} duck={len(d_rows)}")
        else:
            sm = _rows_multiset(s_cols, s_rows)
            dm = _rows_multiset(d_cols, d_rows)
            bad = [
                (a, b) for a, b in zip(sm, dm) if not _vals_close(a, b)
            ]
            if bad:
                ok = False
                print(f"FAIL {name}: {len(bad)} value mismatches; first 3:")
                for a, b in bad[:3]:
                    print(f"  spark={a}\n  duck ={b}")
        if ok:
            print(f"OK   {name}: {len(s_rows)} rows")
        else:
            failures.append(name)
    print(f"\n{len(names) - len(failures)}/{len(names)} queries match")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
