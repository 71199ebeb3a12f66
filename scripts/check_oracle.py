#!/usr/bin/env python
"""Local mimic of the driver's t2 correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB over the same parquet tables, then
compares row count, schema (column names), and order-insensitive
values (sorted columns + sorted rows).

Usage: python scripts/check_oracle.py [sf_dir] [query ...]

Spark runs on the bench session (``bench.session``). Set
``SPARK_GRAFT_SWEEP_OUT=<path>.json`` to persist the per-query results
(name -> {status, rows}), so "the full registry is green at sf0.01" is
checkable without a ~15-minute re-run. ``canon`` and ``_has_negzero``
are the one compare the pytest oracle mirror imports too.
"""

from __future__ import annotations

import math
import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


def _has_negzero(v):
    if isinstance(v, float):
        return v == 0.0 and math.copysign(1.0, v) < 0
    if isinstance(v, (list, tuple)):
        return any(_has_negzero(x) for x in v)
    return False


def canon(rows, columns):
    """Order-insensitive canonical form: sort columns by name, then rows.

    Signed zeros are DELIBERATELY distinguished (str(-0.0) != str(0.0)):
    the driver's value hash is bit-sensitive, and DuckDB's ROUND
    preserves the sign bit on a tiny negative rounding to zero while
    Spark's does not — folding them here (as this script did through
    r12) made local verification pass queries the driver then
    hash-failed (embedding_covariance, r12). Oracles must fold -0.0
    themselves (``+ 0.0`` after ROUND) on BOTH engines."""
    idx = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for row in rows:
        vals = []
        for i in idx:
            v = row[i]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "NaN"
                else:
                    v = round(v, 9)  # round() preserves the zero sign
            vals.append((type(v).__name__ if v is not None else "none", str(v)))
        out.append(tuple(vals))
    out.sort()
    return [columns[i] for i in idx], out


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    # the hf_query_nearest oracle precomputes its VALUES literals for
    # one SF (default: the driver's gate at sf0.01); sweeping another
    # SF needs the literals recomputed for it
    os.environ.setdefault("SPARK_GRAFT_ORACLE_SF_DIR", sf_dir)

    import duckdb

    import __spark_entry__ as entry
    from bench import cleanup, session

    spark = session("oracle_check")

    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entry.queries()
    oracles = entry.oracle_sql()
    failures = []
    sweep: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception:
            print(f"✗ {name}: SPARK ERROR")
            traceback.print_exc()
            failures.append(name)
            sweep[name] = {"status": "spark_error", "rows": None}
            continue
        finally:
            cleanup(spark)
        if name not in oracles:
            print(f"~ {name}: rows-only ({len(s_rows)} rows, cols={s_cols})")
            if len(s_rows) == 0:
                print(f"  WARNING: zero rows")
            sweep[name] = {
                "status": "rows_only" if s_rows else "rows_only_EMPTY",
                "rows": len(s_rows),
            }
            continue
        try:
            rel = con.sql(oracles[name])
            d_cols = rel.columns
            d_types = [str(t) for t in rel.types]
            d_rows = rel.fetchall()
        except Exception:
            print(f"✗ {name}: DUCKDB ERROR")
            traceback.print_exc()
            failures.append(name)
            sweep[name] = {"status": "duckdb_error", "rows": None}
            continue
        # canon() converts values to Python objects, which masks dtype
        # drift (DuckDB promotes sum(BIGINT) to HUGEINT) that the
        # driver's dtype-sensitive hash DOES see — fail it here.
        wide = [c for c, t in zip(d_cols, d_types) if "HUGEINT" in t.upper()]
        if wide:
            print(f"✗ {name}: ORACLE HUGEINT columns {wide} — add CAST(... AS BIGINT)")
            failures.append(name)
            sweep[name] = {"status": "hugeint", "rows": None}
            continue
        # flag -0.0 in EITHER engine even when both agree: the sign of
        # a rounded zero is an engine implementation detail (DuckDB
        # ROUND keeps it, Spark HALF_UP drops it), so any -0.0 output
        # is one engine-version away from a driver hash fail — oracles
        # must fold it (+ 0.0 after ROUND) on both sides.
        negz = [
            (eng, i)
            for eng, rows in (("spark", s_rows), ("duck", d_rows))
            for i, row in enumerate(rows)
            if any(_has_negzero(v) for v in row)
        ]
        if negz:
            print(
                f"✗ {name}: SIGNED ZERO (-0.0) in output "
                f"{[(e, i) for e, i in negz[:5]]} — fold with '+ 0.0'"
            )
            failures.append(name)
            sweep[name] = {"status": "signed_zero", "rows": None}
            continue
        sc, sv = canon(s_rows, s_cols)
        dc, dv = canon(d_rows, d_cols)
        if sc != dc:
            print(f"✗ {name}: SCHEMA {sc} vs {dc}")
            failures.append(name)
            sweep[name] = {"status": "schema_mismatch", "rows": None}
            continue
        if len(sv) != len(dv):
            print(f"✗ {name}: ROWCOUNT {len(sv)} vs {len(dv)}")
            failures.append(name)
            sweep[name] = {"status": "rowcount_mismatch", "rows": None}
            continue
        if sv != dv:
            bad = [(a, b) for a, b in zip(sv, dv) if a != b][:5]
            print(f"✗ {name}: VALUES differ ({len([1 for a,b in zip(sv,dv) if a!=b])} rows)")
            for a, b in bad:
                print(f"    spark: {a}")
                print(f"    duck : {b}")
            failures.append(name)
            sweep[name] = {"status": "values_mismatch", "rows": None}
            continue
        print(f"✓ {name}: {len(sv)} rows match")
        sweep[name] = {"status": "match", "rows": len(sv)}

    sweep_out = os.environ.get("SPARK_GRAFT_SWEEP_OUT")
    if sweep_out:
        import json

        with open(sweep_out, "w") as f:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    "checked": len(sweep),
                    "failed": sorted(failures),
                    "results": sweep,
                },
                f,
                indent=1,
                sort_keys=True,
            )
        print(f"sweep written: {sweep_out}")

    print()
    if failures:
        print(f"FAILED: {failures}")
        sys.exit(1)
    print("ALL MATCH")


if __name__ == "__main__":
    main()
