#!/usr/bin/env python3
"""Driver-style side-by-side check: Spark queries vs DuckDB oracles.

``oracle_mismatches`` is the one comparator; ``tests/test_queries.py``
runs it over every registered query at sf0.001.  Usage:
    python scripts/check_oracles.py [sf_dir] [name ...]
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def main(sf_dir="/root/testdata/sf0.01", *names):
    from ds4sd_docling_tableformer_onnx_spark.queries import ORACLES, QUERIES
    from ds4sd_docling_tableformer_onnx_spark.session import build_session

    spark = build_session(app_name="oracle-check")
    con = duck_views(sf_dir)
    selected = names or [n for n in QUERIES if n in ORACLES]
    failures = 0
    walls: dict[str, float] = {}
    for name in selected:
        t0 = time.perf_counter()
        try:
            spark_df = QUERIES[name](spark, sf_dir).toPandas()
            walls[name] = time.perf_counter() - t0
            duck_df = con.execute(ORACLES[name]).fetchdf()
        except Exception as exc:
            print(f"FAIL {name}: {type(exc).__name__}: {exc}")
            failures += 1
            continue
        verdicts = oracle_mismatches(spark_df, duck_df)
        if verdicts:
            print(f"FAIL {name}: " + "; ".join(verdicts))
            failures += 1
        else:
            print(f"ok   {name} ({len(spark_df)} rows) spark={walls[name]:.2f}s", flush=True)
    # sweep-wall accounting: a time-boxed sweep must reach the last
    # query, so the dominators need to be visible
    if len(walls) > 1:
        total = sum(walls.values())
        top = sorted(walls, key=walls.get, reverse=True)[:10]
        print(f"sweep spark wall {total:.1f}s over {len(walls)} queries; slowest:")
        for name in top:
            print(f"  {walls[name]:6.2f}s  {name}")
    print(f"{len(selected) - failures}/{len(selected)} queries match")
    return failures


def duck_views(sf_dir):
    """A DuckDB connection with one view per table of ``sf_dir``."""
    import duckdb

    con = duckdb.connect()
    for table in TABLES:
        con.execute(
            f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{sf_dir}/{table}.parquet')"
        )
    return con


def _canonical(df, cols):
    """``df[cols]`` sorted by every column, with list/array cells
    JSON-encoded first (they are unhashable for ``sort_values``)."""
    df = df[cols].copy()
    for col in cols:
        if df[col].dtype == object and df[col].map(
            lambda v: isinstance(v, (list, tuple, dict)) or type(v).__name__ == "ndarray"
        ).any():
            df[col] = df[col].map(
                lambda v: json.dumps(list(v) if type(v).__name__ == "ndarray" else v)
            )
    return df.sort_values(cols).reset_index(drop=True)


def oracle_mismatches(spark_df, duck_df):
    """Every way a query's pandas result differs from its oracle's, one
    message each; empty when they match.  Checks the column names, each
    column's pandas dtype, the row count, then the values regardless of
    row order: floats must be equal with NaN equal to NaN, everything
    else equal as strings."""
    import numpy as np

    cols = sorted(spark_df.columns)
    if cols != sorted(duck_df.columns):
        return [f"schema {cols} vs {sorted(duck_df.columns)}"]
    verdicts = [
        f"dtype {col}: {spark_df[col].dtype} vs {duck_df[col].dtype}"
        for col in spark_df.columns
        if spark_df[col].dtype != duck_df[col].dtype
    ]
    if len(spark_df) != len(duck_df):
        verdicts.append(f"rows {len(spark_df)} vs {len(duck_df)}")
    if verdicts:
        return verdicts
    a, b = _canonical(spark_df, cols), _canonical(duck_df, cols)
    for col in cols:
        av, bv = a[col].to_numpy(), b[col].to_numpy()
        if av.dtype.kind == "f" or bv.dtype.kind == "f":
            av, bv = av.astype(float), bv.astype(float)
            if not np.array_equal(av, bv, equal_nan=True):
                verdicts.append(f"col {col} max |diff| {np.nanmax(np.abs(av - bv))}")
        elif not (av.astype(str) == bv.astype(str)).all():
            idx = int(np.argmax(av.astype(str) != bv.astype(str)))
            verdicts.append(f"col {col} differs e.g. {av[idx]!r} vs {bv[idx]!r}")
    return verdicts


if __name__ == "__main__":
    raise SystemExit(main(*sys.argv[1:]))
