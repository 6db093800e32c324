"""Driver-style correctness check: run every __spark_entry__ query at a
given SF against its DuckDB oracle; compare row count, column names, and
order-insensitive values. Usage: python scripts/check_oracles.py [sf_dir]
"""

from __future__ import annotations

import math
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import duckdb

import __spark_entry__ as entrymod
from spacy_llm_spark import get_spark

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def normalize(rows, cols):
    out = []
    for row in rows:
        vals = []
        for c in sorted(cols):
            v = row[c]
            if isinstance(v, float):
                v = round(v, 6)
                if v == -0.0:
                    v = 0.0
            vals.append(repr(v))
        out.append("|".join(vals))
    out.sort()
    return out


def main(sf_dir: str, only: list | None = None) -> int:
    # the Python workers that run mapInPandas kernels import the package
    # too, whatever the working directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    spark = get_spark(
        master="local[8]",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    if only:
        unknown = sorted(set(only) - set(queries))
        if unknown:
            print(f"FAIL  unknown queries: {unknown}")
            return 1
        queries = {k: v for k, v in queries.items() if k in set(only)}
    failures = 0
    for name, fn in queries.items():
        try:
            sdf = fn(spark, sf_dir)
            srows = [r.asDict() for r in sdf.collect()]
            scols = sdf.columns
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: spark error {exc}")
            failures += 1
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(srows)} rows (no oracle)")
            continue
        try:
            odf = con.sql(oracles[name])
            ocols = [d[0] for d in odf.description]
            orows = [dict(zip(ocols, row)) for row in odf.fetchall()]
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error {exc}")
            failures += 1
            continue
        if sorted(scols) != sorted(ocols):
            print(f"FAIL  {name}: columns {sorted(scols)} != {sorted(ocols)}")
            failures += 1
            continue
        if len(srows) != len(orows):
            print(f"FAIL  {name}: rowcount {len(srows)} != {len(orows)}")
            failures += 1
            continue
        a = normalize(srows, scols)
        b = normalize(orows, ocols)
        if a != b:
            diffs = [(x, y) for x, y in zip(a, b) if x != y][:3]
            print(f"FAIL  {name}: value mismatch, e.g. {diffs}")
            failures += 1
        else:
            print(f"OK    {name}: {len(srows)} rows")
    spark.stop()
    print("FAILURES:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(
        main(
            sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01",
            only=sys.argv[2:] or None,
        )
    )
