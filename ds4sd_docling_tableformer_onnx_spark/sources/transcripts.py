"""Synthetic multi-turn transcript generation — the engine's input table.

Schema (BASELINE.json input_hint):
    conv_id: string, turn_idx: int, role: string,
    text: string (prediction payload JSON),
    tool: string (matching context JSON), ts: timestamp

Generation is fully distributed and deterministic (seeded hash
functions, no driver-side loops): ``spark.range`` -> column expressions
-> broadcast join with the tiny payload-pool dimension table.  One
conversation receives a fixed share of all turns to exercise the
skew path (FIXTURES.md §1: a "heavy" conversation with >=100x median
turns).  Row order is emitted shuffled so stable-ordering logic
downstream is actually exercised.
"""

from __future__ import annotations

# share of all turns that land in the heavy conversation conv-00000
HEAVY_SHARE = 0.02


def payload_pool_df(spark):
    """The payload pool as a broadcastable dimension DataFrame."""
    from pyspark.sql import functions as F

    from ..functions.local import local_frame
    from .fixtures import payload_pool

    rows = [
        (e["payload_id"], e["kind"], e["text"], e["tool"], e["expected_html_json"], e["expected_tf_json"])
        for e in payload_pool()
    ]
    return local_frame(
        spark,
        rows,
        "payload_id int, kind string, text string, tool string, "
        "expected_html_json string, expected_tf_json string",
    ).withColumn("expected_html_sha", F.sha2(F.col("expected_html_json"), 256))


def generate_transcripts(
    spark,
    n_turns: int,
    n_convs: int | None = None,
    seed: int = 42,
    shuffle: bool = True,
):
    """Deterministic transcript table with ``n_turns`` rows.

    - ``HEAVY_SHARE`` of all turns land in conversation ``conv-00000``
      (the skew probe); the rest hash-distribute over ``n_convs - 1``.
    - ``turn_idx`` is the row's rank within its conversation (dense,
      0-based) — computed distributively with one window.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    if n_convs is None:
        n_convs = max(n_turns // 64, 1)

    pool = payload_pool_df(spark)
    pool_size = pool.count()

    base = spark.range(n_turns).withColumnRenamed("id", "row_id")
    h = F.xxhash64(F.col("row_id"), F.lit(seed))
    heavy = (F.pmod(h, F.lit(10_000)) < F.lit(int(HEAVY_SHARE * 10_000)))
    conv_num = F.when(heavy, F.lit(0)).otherwise(
        F.pmod(F.xxhash64(F.col("row_id"), F.lit(seed + 1)), F.lit(max(n_convs - 1, 1))) + 1
    )
    df = base.select(
        "row_id",
        F.format_string("conv-%05d", conv_num).alias("conv_id"),
        F.pmod(F.xxhash64(F.col("row_id"), F.lit(seed + 2)), F.lit(pool_size))
        .cast("int")
        .alias("payload_id"),
    )
    win = Window.partitionBy("conv_id").orderBy("row_id")
    df = df.withColumn("turn_idx", (F.row_number().over(win) - 1).cast("int"))
    df = df.select(
        "conv_id",
        "turn_idx",
        F.element_at(
            F.array(F.lit("user"), F.lit("assistant"), F.lit("tool")),
            (F.col("turn_idx") % 3) + 1,
        ).alias("role"),
        "payload_id",
        (
            F.to_timestamp(F.lit("2026-01-01 00:00:00"))
            + F.make_interval(mins=F.col("turn_idx"))
        ).alias("ts"),
        "row_id",
    )
    out = df.join(F.broadcast(pool.select("payload_id", "text", "tool")), "payload_id")
    out = out.select("conv_id", "turn_idx", "role", "text", "tool", "ts", "payload_id")
    if shuffle:
        # one shuffle partition per session core: the extraction stage
        # that reads this runs one Python task per partition
        out = out.repartition(
            spark.sparkContext.defaultParallelism, F.xxhash64("conv_id", "turn_idx")
        )
    return out
