#!/usr/bin/env python3
"""Per-query measurement harness for optimization work (guide §1).

NOT the driver bench (bench.py is frozen): this isolates single queries
with the same count() methodology bench.py uses, prints per-run walls,
and can dump .explain("formatted") to plans/r06/<name>_<tag>.txt.

Usage:
    python bench_extra.py q1 q2 ...            # time queries (best of N)
    python bench_extra.py --explain TAG q1 ... # also dump plans
    python bench_extra.py --runs 3 q1
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default: the machine's core count, as in
     session.build_session).
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main():
    args = sys.argv[1:]
    explain_tag = None
    runs = 2
    names = []
    i = 0
    while i < len(args):
        if args[i] == "--explain":
            explain_tag = args[i + 1]
            i += 2
        elif args[i] == "--runs":
            runs = int(args[i + 1])
            i += 2
        else:
            names.append(args[i])
            i += 1

    from ds4sd_docling_tableformer_onnx_spark.queries import QUERIES
    from ds4sd_docling_tableformer_onnx_spark.session import build_session

    spark = build_session(app_name="bench-extra")
    spark.sparkContext.setLogLevel("ERROR")
    # warm the JVM + python worker pool (same as bench.py)
    QUERIES["dense_rank_reindex"](spark, SF_DIR).count()

    out = {}
    for name in names:
        fn = QUERIES[name]
        if explain_tag:
            frame = fn(spark, SF_DIR)
            plan = frame._sc._jvm.PythonSQLUtils.explainString(
                frame._jdf.queryExecution(), "formatted"
            )
            pdir = Path(__file__).resolve().parent / "plans" / "r06"
            pdir.mkdir(parents=True, exist_ok=True)
            (pdir / f"{name}_{explain_tag}.txt").write_text(plan)
        walls = []
        for _ in range(runs):
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            t0 = time.perf_counter()
            fn(spark, SF_DIR).count()
            walls.append(round(time.perf_counter() - t0, 3))
        out[name] = {"best": min(walls), "runs": walls}
        print(f"{name}: best={min(walls)} runs={walls}", flush=True)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
