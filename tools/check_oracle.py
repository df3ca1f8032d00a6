"""Local stand-in for the driver's t2 correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` twin on DuckDB over
the same parquet dir, compare row count, column names, and an
order-insensitive value comparison (sorted rows of stringified values,
floats normalized), AND pandas-path dtype families (Spark ``toPandas()``
vs DuckDB ``.df()`` — what the driver actually hashes; the fetchall()
path alone hid a HUGEINT-to-float64 vs int64 drift for four rounds).

Usage: python tools/check_oracle.py [sf_dir] [query ...]
(``run(sf_dir, only)`` is the same check as a function returning the
failing query names; tools/sweep.py calls it.)
"""

from __future__ import annotations

import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb

from bench import error_line
from xboard_spark.io import TESTDATA_TABLES
from xboard_spark.session import get_spark


def _norm_cell(v):
    import datetime
    import decimal

    if v is None:
        return "NULL"
    if isinstance(v, decimal.Decimal):
        # one engine may surface DECIMAL where the other gives float
        # (e.g. avg over DECIMAL): str(Decimal('1.10')) == '1.10' vs the
        # float branch's '1.1' — normalize through the same float path
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0:
            v = 0.0  # -0.0 and 0.0 compare equal; '-0' vs '0' must not FAIL
        return f"{v:.6f}".rstrip("0").rstrip(".")
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.isoformat()
    return str(v)


def _normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm_cell(r[i]) for i in order) for r in rows)


def _dtype_kind(dtype) -> str:
    """Collapse a pandas dtype to the family the driver's hash sees.
    datetime64 ns-vs-us is not drift; int-vs-float is."""
    return {"i": "int", "u": "int", "f": "float", "b": "bool",
            "M": "datetime", "m": "timedelta"}.get(dtype.kind, "object")


def _is_datelike_object(col) -> bool:
    """True if an object-dtype column holds only date/datetime (or NULL)
    cells — Spark surfaces DATE as object-of-datetime.date while DuckDB
    gives datetime64[us]; driver rows prove that pairing hashes equal."""
    import datetime

    vals = col.dropna()
    return len(vals) == 0 or all(
        isinstance(v, (datetime.date, datetime.datetime)) for v in vals
    )


def _dtype_mismatches(pdf_s, pdf_d):
    """Pandas-path dtype drift, allowing int/float only under real NULLs
    and object-of-dates vs datetime64 (both driver-proven benign)."""
    out = []
    for col in pdf_s.columns:
        ks, kd = _dtype_kind(pdf_s[col].dtype), _dtype_kind(pdf_d[col].dtype)
        if ks == kd:
            continue
        if {ks, kd} == {"int", "float"}:
            fcol = pdf_s[col] if ks == "float" else pdf_d[col]
            if fcol.isna().any():
                continue
        if {ks, kd} == {"object", "datetime"}:
            ocol = pdf_s[col] if ks == "object" else pdf_d[col]
            if _is_datelike_object(ocol):
                continue
        out.append(f"{col}: spark={pdf_s[col].dtype} duck={pdf_d[col].dtype}")
    return out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod

    unknown = only - set(entrymod.queries())
    if unknown:
        # a typo'd name must not produce a vacuous '0 failures' green
        print(f"ERROR: unknown query name(s): {sorted(unknown)}")
        return 2
    return 1 if run(sf_dir, only) else 0


def run(sf_dir: str, only=()) -> list[str]:
    """Check every query (or only the named ones) on ``sf_dir``, printing
    one PASS/FAIL/SKIP line each; returns the failing query names."""
    only = set(only)
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    spark = get_spark("oracle-check")
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        sdf = None
        try:
            try:
                sdf = fn(spark, sf_dir)
                # persist: collect (the value/row path) and toPandas (the
                # dtype path the driver hashes) are two DELIBERATE client
                # materializations — keep both views, but execute the
                # plan once instead of twice
                sdf.persist()
                scols = sdf.columns
                srows = [tuple(r) for r in sdf.collect()]
            except Exception as e:
                print(f"FAIL {name}: spark error: {error_line(e)}")
                failures.append(name)
                continue
            if name not in oracles:
                print(f"SKIP {name}: no oracle ({len(srows)} rows, rows-only)")
                continue
            try:
                res = con.execute(oracles[name])
                dcols = [d[0] for d in res.description]
                drows = res.fetchall()
            except Exception as e:
                print(f"FAIL {name}: duckdb error: {error_line(e)}")
                failures.append(name)
                continue
            dt = time.time() - t0
            if sorted(scols) != sorted(dcols):
                print(f"FAIL {name}: cols spark={sorted(scols)} duck={sorted(dcols)}")
                failures.append(name)
                continue
            if len(srows) != len(drows):
                print(f"FAIL {name}: rowcount spark={len(srows)} duck={len(drows)}")
                failures.append(name)
                continue
            sn = _normalize(srows, scols)
            dn = _normalize(drows, dcols)
            if sn != dn:
                diffs = [(a, b) for a, b in zip(sn, dn) if a != b][:3]
                print(f"FAIL {name}: value mismatch ({len(srows)} rows); first diffs:")
                for a, b in diffs:
                    print(f"   spark={a}\n   duck ={b}")
                failures.append(name)
                continue
            # pandas-path dtype families — the representation the driver hashes
            try:
                pdf_s = sdf.toPandas()
                pdf_d = con.execute(oracles[name]).df()
            except Exception as e:
                print(f"FAIL {name}: pandas-path error: {error_line(e)}")
                failures.append(name)
                continue
            dmis = _dtype_mismatches(pdf_s, pdf_d)
            if dmis:
                print(f"FAIL {name}: pandas dtype drift: {'; '.join(dmis)}")
                failures.append(name)
                continue
            print(f"PASS {name} ({len(srows)} rows, {dt:.1f}s)")
        finally:
            if sdf is not None:
                try:
                    sdf.unpersist()
                except Exception:
                    pass  # dead context at teardown

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return failures


if __name__ == "__main__":
    sys.exit(main())
