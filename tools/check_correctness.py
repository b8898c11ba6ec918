"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin
on DuckDB at the given sf dir, then compares row count, column names,
and an order-insensitive value hash (columns sorted by name, rows
sorted, floats rendered with repr). Exit code 1 on any mismatch.

Usage: python tools/check_correctness.py [sf_dir] [query ...]

Operators with a broadcast-sized arm (connected_components' driver arm,
and through it dedup_clusters, dedup_weights and semantic_dedup) take
their large-data arm when Spark's broadcast threshold is off:

    PYSPARK_SUBMIT_ARGS="--conf spark.sql.autoBroadcastJoinThreshold=-1 pyspark-shell" \
        python tools/check_correctness.py <sf_dir> dedup_clusters
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")

import duckdb

import __spark_entry__ as entrymod
from titan_spark.session import get_spark

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[2:])

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = repr(round(v, 9))
            vals.append(str(v))
        out.append("\x01".join(vals))
    return sorted(out)


def main() -> int:
    spark = get_spark("correctness_check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in queries.items():
        if ONLY and name not in ONLY:
            continue
        try:
            sdf = fn(spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: spark error: {e}")
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(srows)} rows (no oracle)")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {e}")
            continue
        problems = []
        if sorted(scols) != sorted(ocols):
            problems.append(f"schema {sorted(scols)} vs {sorted(ocols)}")
        if len(srows) != len(orows):
            problems.append(f"rowcount {len(srows)} vs {len(orows)}")
        if not problems:
            a = norm_rows(scols, srows)
            b = norm_rows(ocols, orows)
            if a != b:
                diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
                problems.append(f"values differ, first diffs: {diff}")
        if problems:
            failures.append(name)
            print(f"FAIL  {name}: {'; '.join(problems)}")
        else:
            print(f"OK    {name}: {len(srows)} rows")
    print(f"\n{len(failures)} failures" if failures else "\nall green")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
