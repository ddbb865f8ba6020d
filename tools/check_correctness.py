#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB over the same sf dir, comparing row count,
column names, and an order-insensitive value hash. Run before every commit
that touches the registry:

    python3 tools/check_correctness.py [sf_dir] [name_prefix ...]

Optional name prefixes restrict the run to matching registry entries (fast
iteration on new queries).
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from qradar_restapi_kafka_datapipeline_spark.engine import get_spark  # noqa: E402
from qradar_restapi_kafka_datapipeline_spark.sources.registry import TABLES  # noqa: E402


def value_hash(df) -> tuple[int, str, list[str]]:
    """(row_count, order-insensitive hash, sorted columns) of a pandas frame."""
    cols = sorted(df.columns)
    rows = sorted(
        "|".join(str(v) for v in rec)
        for rec in df[cols].itertuples(index=False, name=None)
    )
    h = hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]
    return len(rows), h, cols


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    prefixes = tuple(sys.argv[2:])
    # no console progress bar: its \r-written bars would land inside the
    # OK/FAIL lines when stderr is folded into stdout
    spark = get_spark(
        app_name="check-correctness",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    qs = entrymod.queries()
    if prefixes:
        qs = {n: f for n, f in qs.items() if n.startswith(prefixes)}
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error {type(e).__name__}: {str(e)[:160]}")
            failures += 1
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(sdf)} rows (no oracle) [{time.time()-t0:.1f}s]")
            continue
        try:
            ddf = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"FAIL  {name}: oracle error {type(e).__name__}: {str(e)[:160]}")
            failures += 1
            continue
        sc, sh, scols = value_hash(sdf)
        dc, dh, dcols = value_hash(ddf)
        if scols != dcols:
            print(f"FAIL  {name}: columns spark={scols} duck={dcols}")
            failures += 1
        elif sc != dc:
            print(f"FAIL  {name}: rows spark={sc} duck={dc}")
            failures += 1
        elif sh != dh:
            print(f"FAIL  {name}: value hash mismatch ({sc} rows)")
            srows = sorted("|".join(map(str, r)) for r in sdf[scols].itertuples(index=False, name=None))
            drows = sorted("|".join(map(str, r)) for r in ddf[dcols].itertuples(index=False, name=None))
            for a, b in zip(srows, drows):
                if a != b:
                    print(f"      spark: {a[:180]}\n      duck : {b[:180]}")
                    break
            failures += 1
        else:
            print(f"OK    {name}: {sc} rows hash={sh} [{time.time()-t0:.1f}s]")
    spark.stop()
    print(f"\n{'ALL OK' if failures == 0 else f'{failures} FAILURES'} "
          f"({len(qs)} queries, sf_dir={sf_dir})")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
