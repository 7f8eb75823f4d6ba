"""Stage checkpoint tables with per-partition lineage + idempotent resume.

Re-expresses the reference's staged-export chain (SURVEY §3.3: each stage
persists a snapshot keyed by SHA-256 and the next stage re-loads it) as
checkpoint *tables*: one parquet/Iceberg table per stage keyed by
``(conv_id, turn_idx, payload_sha256)``, carrying ``run_id``,
``partition_id`` and extraction metrics.  A restarted job anti-joins the
checkpoint to process only missing turns — idempotent resume without
driver-side bookkeeping (north_rule).

A resumed extraction is ONE write action (``run_with_checkpoint``):
the anti-join, the worker and the append run in the write's job, and
the skipped-turn count is observed there (``pyspark.sql.Observation``)
instead of recounted.  A parquet checkpoint is read with its declared
schema (``checkpoint_schema``), so no read infers it from the files.

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

import functools

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


@functools.lru_cache(maxsize=1)
def checkpoint_schema(spark):
    """The parquet checkpoint's schema, from its declarations: the
    extraction worker's ``OUTPUT_COLUMNS`` plus ``with_lineage``'s
    columns, every field nullable as a parquet read reports it.
    Analysing ``with_lineage`` takes ~60 ms on a 4-core local session,
    so the schema is kept for the latest session."""
    from pyspark.sql.types import StructField, StructType

    from ..functions.local import local_frame
    from ..functions.rows import spark_schema
    from ..operators.extract import OUTPUT_COLUMNS

    framed = with_lineage(local_frame(spark, [], spark_schema(OUTPUT_COLUMNS)), "", "")
    return StructType([StructField(f.name, f.dataType) for f in framed.schema])


def read_checkpoint(spark, path: str):
    """The checkpoint table, or ``None`` when there is no checkpoint
    yet (no path; no Iceberg table).

    A parquet checkpoint is read with ``checkpoint_schema``, so opening
    it lists the files but reads none of them: a directory with no data
    files is an empty frame, and a part file that cannot be read raises
    (``FAILED_READ_FILE``) in the first action that scans it, which for
    ``run_with_checkpoint`` is the checkpoint write, before anything is
    appended."""
    from pyspark.errors import AnalysisException

    if is_table_target(path, spark):
        _require_catalog(spark, path)
        return spark.table(path) if spark.catalog.tableExists(path) else None
    try:
        return spark.read.schema(checkpoint_schema(spark)).parquet(path)
    except AnalysisException as exc:
        if exc.getCondition() == "PATH_NOT_FOUND":
            return None
        raise


def _pending(input_df, done, how: str = "left_anti"):
    """The resume plan, defined once: ``input_df``'s turns that ``done``
    does not hold (``how="left_semi"``: the ones it does), matched on
    conv_id, turn_idx and the payload key, so a changed payload re-runs.

    The key is the shared injective payload key (functions/keys.py) —
    the same expression the extraction worker stores, so the join never
    mis-skips a colliding changed payload.  No dedup of ``done``: semi
    and anti joins ignore duplicate right-side keys, and a
    ``dropDuplicates`` would cost a shuffle stage.  At 10^12-turn scale
    the checkpoint side is bucketed on the same key in Iceberg, so the
    join is storage-partitioned (no shuffle of the big side)."""
    from ..functions.keys import payload_key_col

    keys = list(CHECKPOINT_KEYS)
    keyed = input_df.withColumn("payload_sha256", payload_key_col("text", "tool"))
    return keyed.join(done.select(*keys), keys, how).drop("payload_sha256")


def resume_filter(input_df, spark, checkpoint_path: str):
    """Drop turns already present in the checkpoint: ``(pending, skipped)``.

    ``skipped`` is the number of INPUT rows dropped as already done (a
    changed payload hashes differently, so it counts as not-done and
    re-runs).  This eager caller counts it with a semi-join, which costs
    one extra pass over the input; ``run_with_checkpoint`` instead
    observes it during its write.  Checkpoints written by rounds 1-2
    used the old ``concat_ws`` key and re-run once (see the re-keying
    note in functions/keys.py).
    """
    done = read_checkpoint(spark, checkpoint_path)
    if done is None:
        return input_df, 0
    return _pending(input_df, done), _pending(input_df, done, "left_semi").count()


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
):
    """Extraction with resume as ONE write action: skip checkpointed
    turns, extract the rest, append them to the checkpoint, and return
    ``(new_rows_df, skipped)``.

    ``skipped`` is not recounted: the write observes the rows entering
    the resume anti-join and the rows leaving the worker (one row per
    turn), and ``skipped`` is their difference.  A checkpoint that
    cannot be read fails the write, so nothing is appended."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from ..operators.extract import extract_transcripts

    done = read_checkpoint(spark, checkpoint_path)
    seen, new = Observation(), Observation()
    pending = transcripts_df.observe(seen, F.count(F.lit(1)).alias("rows"))
    if done is not None:
        pending = _pending(pending, done)
    extracted = extract_transcripts(pending).observe(new, F.count(F.lit(1)).alias("rows"))
    write_checkpoint(extracted, checkpoint_path, run_id, stage="extract")
    skipped = seen.get["rows"] - new.get["rows"]
    done = read_checkpoint(spark, checkpoint_path)
    return done.where(F.col("run_id") == run_id), skipped
