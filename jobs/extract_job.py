#!/usr/bin/env python3
"""Cluster entrypoint: transcript extraction with checkpointed resume.

    spark-submit \
      --py-files dist/ds4sd_docling_tableformer_onnx_spark.zip \
      jobs/extract_job.py \
      --input  /path/or/table/of/transcripts \
      --checkpoint /path/of/checkpoint/table \
      --run-id  run-2026-08-16 \
      [--staged-base /path/for/staged/dag] [--metrics /path/metrics]

Reads the transcript table (parquet path here; an Iceberg identifier on
a real cluster), skips turns already checkpointed (idempotent resume),
extracts the rest shuffle-free, appends to the checkpoint with lineage
columns, and writes per-partition metrics.  With ``--staged-base`` the
full staged DAG (extract -> cells -> convdocs) runs instead.

Local smoke run (no cluster):
    python jobs/extract_job.py --input /tmp/in --checkpoint /tmp/ckpt \
        --run-id r1 --generate 1000
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.append(str(Path(__file__).resolve().parent.parent))


def main(argv=None):
    parser = argparse.ArgumentParser()
    parser.add_argument("--input", required=True)
    parser.add_argument("--checkpoint", required=True)
    parser.add_argument("--run-id", required=True)
    parser.add_argument("--staged-base", default=None)
    parser.add_argument("--metrics", default=None)
    parser.add_argument("--cores", type=int, default=None)
    parser.add_argument(
        "--generate", type=int, default=0,
        help="generate N synthetic turns into --input first (smoke runs)",
    )
    args = parser.parse_args(argv)

    from pyspark.sql import functions as F

    from ds4sd_docling_tableformer_onnx_spark.plans.checkpoint import (
        partition_metrics,
        run_with_checkpoint,
    )
    from ds4sd_docling_tableformer_onnx_spark.plans.staged import (
        run_staged_extraction,
    )
    from ds4sd_docling_tableformer_onnx_spark.session import build_session
    from ds4sd_docling_tableformer_onnx_spark.sources.transcripts import (
        generate_transcripts,
    )

    spark = build_session(app_name=f"extract-{args.run_id}", cores=args.cores)
    spark.sparkContext.setLogLevel("WARN")

    if args.generate:
        generate_transcripts(spark, n_turns=args.generate).write.mode(
            "overwrite"
        ).parquet(args.input)

    transcripts = spark.read.parquet(args.input)
    t0 = time.perf_counter()
    if args.staged_base:
        stages = run_staged_extraction(
            spark, transcripts, args.staged_base, run_id=args.run_id
        )
        new_rows = stages["extract"].where(F.col("run_id") == args.run_id)
        skipped = stages["skipped"]
    else:
        new_rows, skipped = run_with_checkpoint(
            spark, transcripts, args.checkpoint, run_id=args.run_id
        )

    n_new = new_rows.count()
    wall = time.perf_counter() - t0
    if args.metrics:
        partition_metrics(new_rows).write.mode("append").parquet(args.metrics)

    print(
        json.dumps(
            {
                "run_id": args.run_id,
                "new_turns": n_new,
                "skipped_turns": skipped,
                "sec": round(wall, 3),
                "turns_per_sec": round(n_new / wall, 1) if wall > 0 else None,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
