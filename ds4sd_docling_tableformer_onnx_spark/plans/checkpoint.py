"""Stage checkpoint tables with per-partition lineage + idempotent resume.

Re-expresses the reference's staged-export chain (SURVEY §3.3: each stage
persists a snapshot keyed by SHA-256 and the next stage re-loads it) as
checkpoint *tables*: one parquet/Iceberg table per stage keyed by
``(conv_id, turn_idx, payload_sha256)``, carrying ``run_id``,
``partition_id`` and extraction metrics.  A restarted job anti-joins the
checkpoint to process only missing turns — idempotent resume without
driver-side bookkeeping (north_rule).

Checkpoint targets are EITHER a filesystem path (parquet, append mode —
the sandbox default) or a catalog table identifier
(``catalog.db.table``): when the target's catalog is configured in the
session (``spark.sql.catalog.<name>``), writes go through
``df.writeTo(table).using("iceberg").append()`` — snapshot isolation
giving exactly-once semantics per run_id — and reads through
``spark.table``.  A table target WITHOUT a configured catalog raises a
clear ``NotImplementedError`` (the same gate discipline as
operators/realmodel.py: never a silent fallback).  Resume semantics are
identical on both backends; tests/test_plans.py carries a skip-gated
test that executes whenever Iceberg jars are present.
"""

from __future__ import annotations

CHECKPOINT_KEYS = ("conv_id", "turn_idx", "payload_sha256")


# dotted relative filenames that must never be read as catalog tables:
# STRONG extensions are data-file formats that classify as paths at any
# segment depth (dump.json.gz is a file, not catalog dump.json table
# gz); WEAK ones are common scratch-name suffixes that also force path
# semantics at any depth (nightly.run.out, a.b.tmp) — UNLESS the name's
# first segment is an actually-configured catalog in the session, which
# resolves the ambiguity in favor of the table (ADVICE r3 low).
_STRONG_EXTENSIONS = frozenset("parquet orc avro json csv tsv zip gz".split())
_WEAK_EXTENSIONS = frozenset("txt dat log tmp bak out dir".split())


def is_table_target(target: str, spark=None) -> bool:
    """``catalog.db.table`` identifier (Iceberg path) vs filesystem
    path (parquet path).  Any path separator or URI scheme means path;
    a separator-free dotted name is a table when every segment is a
    SQL identifier — EXCEPT when the last segment is a data-file
    format or scratch suffix (``ckpt.parquet``, ``dump.json.gz``,
    ``metrics.log``, ``nightly.run.out`` stay paths at ANY depth).
    The scratch-suffix exception yields when ``spark`` is provided and
    the first segment names a configured catalog
    (``spark.sql.catalog.<name>``): ``ice.db.out`` is then the catalog
    table it looks like.  Prefix ambiguous relative paths with ``./``
    to force path semantics."""
    import re

    if "/" in target or "\\" in target or ":" in target or "." not in target:
        return False
    segments = target.split(".")
    if not all(re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", s) for s in segments):
        return False
    last = segments[-1].lower()
    if last in _STRONG_EXTENSIONS:
        return False
    if last in _WEAK_EXTENSIONS:
        return (
            spark is not None
            and spark.conf.get(f"spark.sql.catalog.{segments[0]}", None) is not None
        )
    return True


def _require_catalog(spark, target: str):
    catalog = target.split(".", 1)[0]
    if spark.conf.get(f"spark.sql.catalog.{catalog}", None) is None:
        raise NotImplementedError(
            f"checkpoint target {target!r} names catalog {catalog!r} but "
            f"spark.sql.catalog.{catalog} is not configured — configure an "
            "Iceberg catalog (and ship the iceberg-spark runtime jars) or "
            "pass a filesystem path for the parquet backend"
        )


def with_lineage(df, run_id: str, stage: str):
    """Attach lineage columns: run id, stage name, physical partition."""
    from pyspark.sql import functions as F

    return (
        df.withColumn("run_id", F.lit(run_id))
        .withColumn("stage", F.lit(stage))
        .withColumn("partition_id", F.spark_partition_id())
    )


def write_checkpoint(df, path: str, run_id: str, stage: str):
    """Append this stage's output to its checkpoint table (parquet path
    or Iceberg catalog table — see module docstring)."""
    framed = with_lineage(df, run_id, stage)
    if is_table_target(path, framed.sparkSession):
        spark = framed.sparkSession
        _require_catalog(spark, path)
        if spark.catalog.tableExists(path):
            framed.writeTo(path).append()
        else:
            framed.writeTo(path).using("iceberg").create()
        return
    framed.write.mode("append").parquet(path)


def read_checkpoint(spark, path: str):
    """The checkpoint table, or ``None`` when nothing is done yet (no
    path, or a directory with no data files).  Any other read error (an
    unreadable part file, say) raises: read as "no checkpoint", it would
    make resume re-extract and append every turn."""
    from pyspark.errors import AnalysisException

    if is_table_target(path, spark):
        _require_catalog(spark, path)
        return spark.table(path) if spark.catalog.tableExists(path) else None
    try:
        return spark.read.parquet(path)
    except AnalysisException as exc:
        if exc.getCondition() in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
            return None
        raise


def resume_filter(input_df, spark, checkpoint_path: str):
    """Drop turns already present in the checkpoint (matched on conv_id,
    turn_idx and the payload hash, so changed payloads re-run).

    The anti-join shuffles both sides on the composite key; at 10^12-turn
    scale the checkpoint side is bucketed on the same key in Iceberg so
    the join is storage-partitioned (no shuffle of the big side).

    ``skipped`` is the number of INPUT rows dropped as already done (a
    changed payload hashes differently, so it counts as not-done and
    re-runs).  Counting it costs one extra pass over the input.

    The key is the shared injective payload key (functions/keys.py) —
    the same expression the extraction worker stores, so the anti-join
    never mis-skips a colliding changed payload.  Checkpoints written
    by rounds 1-2 used the old ``concat_ws`` form and re-run once
    (see the re-keying note in functions/keys.py).
    """
    from ..functions.keys import payload_key_col

    done = read_checkpoint(spark, checkpoint_path)
    if done is None:
        return input_df, 0
    # no dedup: semi/anti joins ignore duplicate right-side keys, and a
    # dropDuplicates would cost a shuffle stage per join
    done_keys = done.select(*CHECKPOINT_KEYS)
    hashed = input_df.withColumn("payload_sha256", payload_key_col("text", "tool"))
    remaining = hashed.join(done_keys, list(CHECKPOINT_KEYS), "left_anti")
    skipped = hashed.join(done_keys, list(CHECKPOINT_KEYS), "left_semi").count()
    return remaining.drop("payload_sha256"), skipped


def partition_metrics(extracted):
    """Per-partition extraction metrics (the reference's AggProfiler
    analog, app_profiler.py:148-200): row counts, error counts, cells —
    grouped by the physical partition that produced them."""
    from pyspark.sql import functions as F

    return (
        extracted.withColumn("partition_id", F.spark_partition_id())
        .groupBy("partition_id")
        .agg(
            F.count("*").alias("turns"),
            F.sum(F.when(F.col("ok"), 0).otherwise(1)).alias("errors"),
            F.sum(F.col("n_cells").cast("long")).alias("cells"),
            F.avg("n_cells").alias("avg_cells"),
        )
    )


def run_with_checkpoint(
    spark,
    transcripts_df,
    checkpoint_path: str,
    run_id: str,
    correct_overlapping_cells: bool = False,
):
    """Extraction with resume: skip checkpointed turns, extract the rest,
    append to the checkpoint, return (new_rows_df, skipped_count)."""
    from pyspark.sql import functions as F

    from ..operators.extract import extract_transcripts

    remaining, skipped = resume_filter(transcripts_df, spark, checkpoint_path)
    extracted = extract_transcripts(
        remaining, correct_overlapping_cells=correct_overlapping_cells
    )
    write_checkpoint(extracted, checkpoint_path, run_id, stage="extract")
    done = read_checkpoint(spark, checkpoint_path)
    return done.where(F.col("run_id") == run_id), skipped
