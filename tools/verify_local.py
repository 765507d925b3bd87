"""Local mimic of the driver's DuckDB-oracle correctness gate.

Runs every `queries()` entry on Spark and its `oracle_sql()` on DuckDB at
the given SF, then compares row count, sorted column names, and values
(order-insensitive, columns sorted by name). Stricter than the driver on
values: requires exact equality after in-query rounding — if this passes,
any reasonable value-hash passes.

Usage:  python tools/verify_local.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kafka_flink_slack_pipeline_spark.session import get_spark  # noqa: E402
from kafka_flink_slack_pipeline_spark.tables import TABLE_NAMES  # noqa: E402


def normalize(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # collapse -0.0 / ulp noise that in-query rounding already bounded
        return repr(round(v, 9))
    if v is None:
        return "NULL"
    return str(v)


def rows_to_canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(normalize(r[i]) for i in order) for r in rows)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    spark = get_spark("verify_local")
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = sdf.collect()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: spark error: {e}")
            continue
        if name not in oracles:
            print(f"ROWS-ONLY  {name}: {len(srows)} rows ({time.time()-t0:.1f}s)")
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {e}")
            continue

        problems = []
        if sorted(scols) != sorted(dcols):
            problems.append(f"columns differ: spark={sorted(scols)} duck={sorted(dcols)}")
        if len(srows) != len(drows):
            problems.append(f"rowcount differs: spark={len(srows)} duck={len(drows)}")
        if not problems:
            sc = rows_to_canon(scols, [tuple(r) for r in srows])
            dc = rows_to_canon(dcols, drows)
            if sc != dc:
                diffs = [(a, b) for a, b in zip(sc, dc) if a != b][:3]
                problems.append(f"values differ; first diffs: {diffs}")
        if problems:
            failures.append(name)
            print(f"FAIL  {name}: " + " | ".join(problems))
        else:
            print(f"OK    {name}: {len(srows)} rows ({time.time()-t0:.1f}s)")

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
