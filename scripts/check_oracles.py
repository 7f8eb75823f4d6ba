#!/usr/bin/env python3
"""Driver-style side-by-side check: Spark queries vs DuckDB oracles.

Compares row count, sorted-column schema and order-insensitive values
(exact after the queries' own rounding).  Usage:
    python scripts/check_oracles.py [sf_dir] [name ...]
"""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def main(sf_dir="/root/testdata/sf0.01", *names):
    import duckdb
    import numpy as np
    import pandas as pd

    from ds4sd_docling_tableformer_onnx_spark.queries import ORACLES, QUERIES
    from ds4sd_docling_tableformer_onnx_spark.session import build_session

    spark = build_session(app_name="oracle-check")
    con = duckdb.connect()
    for table in TABLES:
        con.execute(
            f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{sf_dir}/{table}.parquet')"
        )

    selected = names or [n for n in QUERIES if n in ORACLES]
    failures = 0
    walls: dict[str, float] = {}
    for name in selected:
        import time

        t0 = time.perf_counter()
        try:
            spark_df = QUERIES[name](spark, sf_dir).toPandas()
            t_spark = time.perf_counter() - t0
            duck_df = con.execute(ORACLES[name]).fetchdf()
            walls[name] = t_spark
        except Exception as exc:
            print(f"FAIL {name}: {type(exc).__name__}: {exc}")
            failures += 1
            continue
        verdicts = []
        if sorted(spark_df.columns) != sorted(duck_df.columns):
            verdicts.append(f"schema {sorted(spark_df.columns)} vs {sorted(duck_df.columns)}")
        else:
            # the driver compares pandas dtypes too — flag e.g. an int32
            # Spark count against a DuckDB BIGINT before the driver does
            for col in spark_df.columns:
                sd, dd = spark_df[col].dtype, duck_df[col].dtype
                if sd != dd:
                    verdicts.append(f"dtype {col}: {sd} vs {dd}")
        if len(spark_df) != len(duck_df):
            verdicts.append(f"rows {len(spark_df)} vs {len(duck_df)}")
        if not verdicts:
            cols = sorted(spark_df.columns)

            def _canon(df):
                # list/array columns are unhashable for sort_values —
                # JSON-encode any object column holding non-scalars so
                # entry-point queries with array outputs report cleanly
                import json

                df = df[cols].copy()
                for col in cols:
                    if df[col].dtype == object and df[col].map(
                        lambda v: isinstance(v, (list, tuple, dict))
                        or type(v).__name__ == "ndarray"
                    ).any():
                        df[col] = df[col].map(
                            lambda v: json.dumps(
                                list(v) if type(v).__name__ == "ndarray" else v
                            )
                        )
                return df.sort_values(cols).reset_index(drop=True)

            a = _canon(spark_df)
            b = _canon(duck_df)
            for col in cols:
                av, bv = a[col].to_numpy(), b[col].to_numpy()
                if av.dtype.kind == "f" or bv.dtype.kind == "f":
                    av = av.astype(float)
                    bv = bv.astype(float)
                    if not np.array_equal(av, bv, equal_nan=True):
                        bad = np.nanmax(np.abs(av - bv))
                        verdicts.append(f"col {col} max |diff| {bad}")
                else:
                    if not (av.astype(str) == bv.astype(str)).all():
                        idx = int(np.argmax(av.astype(str) != bv.astype(str)))
                        verdicts.append(f"col {col} differs e.g. {av[idx]!r} vs {bv[idx]!r}")
        if verdicts:
            print(f"FAIL {name}: " + "; ".join(verdicts))
            failures += 1
        else:
            print(
                f"ok   {name} ({len(spark_df)} rows) "
                f"spark={walls[name]:.2f}s",
                flush=True,
            )
    # sweep-wall accounting (r4 verdict item 1: a time-boxed driver run
    # must reach the last query, so the dominators need to be visible)
    if len(walls) > 1:
        total = sum(walls.values())
        top = sorted(walls, key=walls.get, reverse=True)[:10]
        print(f"sweep spark wall {total:.1f}s over {len(walls)} queries; slowest:")
        for name in top:
            print(f"  {walls[name]:6.2f}s  {name}")
    print(f"{len(selected) - failures}/{len(selected)} queries match")
    return failures


if __name__ == "__main__":
    raise SystemExit(main(*sys.argv[1:]))
