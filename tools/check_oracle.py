"""Local stand-in for the driver's correctness gate: run every registry
query on Spark AND its DuckDB oracle at sf0.01; compare row count, column
names, and order-insensitive values.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(rows, colnames):
    """Sort columns by name, then rows; stringify with float rounding."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                if math.isnan(v):
                    vals.append("nan")
                else:
                    vals.append(f"{v:.9g}")
            else:
                vals.append(repr(v))
        out.append(tuple(vals))
    out.sort()
    return out


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from coffea_spark.queries import REGISTRY
    from coffea_spark.session import get_spark
    from coffea_spark.testing import FixtureMissing

    spark = get_spark(app_name="oracle-check", cpus=8, driver_memory="8g")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    failures = []
    results = {}
    for name, q in REGISTRY.items():
        if only and name not in only:
            continue
        try:
            sdf = q.fn(spark, sf_dir)
            srows = [tuple(r) for r in sdf.collect()]
            oracle = q.sql
        except FixtureMissing as exc:
            results[name] = {"status": "skip", "reason": str(exc)}
            print(f"{name:24s} SKIP  {exc}")
            continue
        except Exception as exc:  # record, keep sweeping
            failures.append(name)
            results[name] = {"status": "error", "err": f"{type(exc).__name__}: {exc}"[:500]}
            print(f"{name:24s} ERROR {type(exc).__name__}")
            continue
        scols = sdf.columns
        if oracle is None:
            results[name] = {"status": "rows_only", "spark_rows": len(srows)}
            print(f"{name:24s} rows-only: {len(srows)} rows")
            continue
        ores = con.execute(oracle)
        orows = ores.fetchall()
        ocols = [d[0] for d in ores.description]
        # DuckDB types untyped integer aggregates as HUGEINT (int128);
        # the driver's typed value-hash sees int128 != Spark int64 even
        # when values agree (round-1 lesson: 11 spurious hash fails).
        # duckdb's DB-API description maps HUGEINT/DECIMAL to type_code
        # 'NUMBER' same as BIGINT, so re-DESCRIBE the query for SQL types.
        otypes = {
            r[0]: r[1]
            for r in con.execute(f"DESCRIBE {oracle}").fetchall()
        }
        status = []
        bad_types = [
            f"{c}:{t}" for c, t in otypes.items()
            if "HUGEINT" in t or "DECIMAL" in t
        ]
        if bad_types:
            status.append(
                "ORACLE-TYPE " + ",".join(bad_types)
                + " (wrap in CAST(... AS BIGINT/DOUBLE))"
            )
        if sorted(scols) != sorted(ocols):
            status.append(f"SCHEMA spark={sorted(scols)} oracle={sorted(ocols)}")
        if len(srows) != len(orows):
            status.append(f"ROWS spark={len(srows)} oracle={len(orows)}")
        if not status:
            cs, co = canon(srows, scols), canon(orows, ocols)
            if cs != co:
                ndiff = sum(1 for a, b in zip(cs, co) if a != b)
                status.append(f"VALUES {ndiff}/{len(cs)} rows differ")
                for a, b in list(zip(cs, co))[:200]:
                    if a != b:
                        status.append(f"  spark={a}")
                        status.append(f"  duck ={b}")
                        break
        if status:
            failures.append(name)
            results[name] = {"status": "fail", "detail": " | ".join(status)[:500]}
            print(f"{name:24s} FAIL  " + " | ".join(status))
        else:
            results[name] = {"status": "pass", "rows": len(srows)}
            print(f"{name:24s} OK    ({len(srows)} rows)")

    # Full-registry sweeps leave a committed evidence trail for the
    # queries beyond the driver's 50-entry correctness window.
    if not only:
        import json

        out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                           "CORRECTNESS_LOCAL.json")
        with open(out, "w") as f:
            json.dump({"sf_dir": sf_dir, "n": len(results), "results": results}, f, indent=1)
        print(f"wrote {out}")

    print()
    if failures:
        print("FAILURES:", failures)
        sys.exit(1)
    print("ALL OK")


if __name__ == "__main__":
    main()
