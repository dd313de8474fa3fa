"""Local replica of the driver's correctness gate.

Runs every __spark_entry__.queries() entry at the given sf dir and
compares against oracle_sql() via DuckDB: row count, column names,
and order-insensitive value equality (sorted rows, NaN==NaN).

Usage: python tools/check_oracles.py [sf_dir] [query ...]
Runs Spark at local[$SPARK_GRAFT_CPUS] (all host cores when unset).
"""

from __future__ import annotations

import math
import os
import sys

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, ".")

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v):
    if isinstance(v, (float, np.floating)):
        if math.isnan(v):
            return ("nan",)
        return float(v)
    if isinstance(v, (np.integer,)):
        return int(v)
    if isinstance(v, bytes):
        return v
    if isinstance(v, (list, np.ndarray, tuple)):
        return tuple(norm_cell(x) for x in v)
    if v is None:
        return ("null",)
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    return v


def canon(df: pd.DataFrame) -> list:
    cols = sorted(df.columns)
    rows = [tuple(norm_cell(v) for v in row) for row in df[cols].itertuples(index=False)]
    return sorted(rows, key=repr)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry
    from vyperdatum_spark.session import get_spark

    spark = get_spark(extra_conf={
        "spark.ui.showConsoleProgress": "false",
        # strict: a stage that blows janino's 64 KB method limit FAILS
        # the gate instead of silently running interpreted (set
        # SPARK_GRAFT_LAX_CODEGEN=1 to restore the default fallback)
        "spark.sql.codegen.fallback":
            "true" if os.environ.get("SPARK_GRAFT_LAX_CODEGEN") else "false",
    })
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entry.queries_extended()
    oracles = entry.oracle_sql_extended()
    exposed = set(entry.EXPOSED)
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append((name, f"SPARK ERROR: {e}"))
            print(f"FAIL  {name}: spark error {str(e)[:200]}")
            continue
        if name not in oracles:
            print(f"rows-only  {name}: {len(got)} rows")
            continue
        try:
            exp = con.execute(oracles[name]).df()
        except Exception as e:
            failures.append((name, f"ORACLE ERROR: {e}"))
            print(f"FAIL  {name}: oracle error {str(e)[:200]}")
            continue
        problems = []
        if len(got) != len(exp):
            problems.append(f"rowcount {len(got)} != {len(exp)}")
        if sorted(got.columns) != sorted(exp.columns):
            problems.append(f"columns {sorted(got.columns)} != {sorted(exp.columns)}")
        if not problems:
            cg, ce = canon(got), canon(exp)
            if cg != ce:
                bad = sum(1 for a, b in zip(cg, ce) if a != b)
                problems.append(f"values differ ({bad} of {len(cg)} sorted rows)")
                for a, b in zip(cg, ce):
                    if a != b:
                        problems.append(f"  first diff:\n   spark={a}\n   duck ={b}")
                        break
        if problems:
            failures.append((name, "; ".join(problems[:2])))
            print(f"FAIL  {name}: " + " | ".join(problems))
        else:
            tag = "" if name in exposed else "  [extended-only]"
            print(f"OK    {name}: {len(got)} rows match{tag}")

    spark.stop()
    print(f"\n{len(failures)} failures" if failures else "\nALL MATCH")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
