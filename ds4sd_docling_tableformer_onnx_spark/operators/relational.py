"""Relational (DataFrame-level) forms of the extraction's grid operators.

The per-turn pipeline runs these in-memory per turn inside the batched
UDF; the same semantics expressed over a *table of cells* (one row per
(conv_id, turn_idx, cell)) are pure Spark plans — useful when the cell
grids of a whole corpus are post-processed relationally (cross-document
statistics, header analytics) instead of turn-by-turn.

Each function documents the reference op it mirrors (SURVEY §2).
"""

from __future__ import annotations

TURN_KEYS = ("conv_id", "turn_idx")

# conversation_documents hashes at most this many turns per conversation
MAX_TURNS_PER_DOC = 10_000


def explode_response_cells(extracted):
    """Extraction output -> one row per response cell, typed columns.

    The JSON payload becomes a queryable cell table: this is the
    relational boundary between the per-turn algebra and corpus-level
    analytics.
    """
    from pyspark.sql import functions as F

    cell_schema = (
        "array<struct<cell_id: int, row_span: int, col_span: int, "
        "start_row_offset_idx: int, end_row_offset_idx: int, "
        "start_col_offset_idx: int, end_col_offset_idx: int, "
        "column_header: boolean, row_header: boolean, row_section: boolean, "
        "bbox: struct<l: double, t: double, r: double, b: double>>>"
    )
    parsed = extracted.withColumn(
        "cells", F.from_json("tf_responses_json", cell_schema)
    )
    return parsed.select(
        *TURN_KEYS, F.posexplode("cells").alias("cell_pos", "cell")
    ).select(
        *TURN_KEYS,
        "cell_pos",
        "cell.*",
    )


def dense_reindex_cells(cells_df):
    """W1 as a Spark window: gapless start indexes per turn
    (tf_predictor.py:511-567 re-expressed as dense_rank)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    col_win = Window.partitionBy(*TURN_KEYS).orderBy("start_col_offset_idx")
    row_win = Window.partitionBy(*TURN_KEYS).orderBy("start_row_offset_idx")
    out = (
        cells_df.withColumn("start_col_idx", F.dense_rank().over(col_win) - 1)
        .withColumn("start_row_idx", F.dense_rank().over(row_win) - 1)
        .withColumn("end_col_idx", F.col("start_col_idx") + F.col("col_span"))
        .withColumn("end_row_idx", F.col("start_row_idx") + F.col("row_span"))
    )
    return out


def grid_dimensions(cells_df):
    """A1/A9: per-turn grid dimensions from the cell table."""
    from pyspark.sql import functions as F

    return cells_df.groupBy(*TURN_KEYS).agg(
        F.max("end_col_offset_idx").alias("num_cols"),
        F.max("end_row_offset_idx").alias("num_rows"),
        F.count("*").cast("long").alias("n_cells"),
        F.sum(F.when(F.col("column_header"), 1).otherwise(0)).alias("header_cells"),
    )


def conversation_documents(extracted):
    """Assemble per-conversation 'documents': the ordered concatenation
    of each turn's HTML-structure hash chain (W2 at conversation level).

    One shuffle on conv_id; `sort_array(collect_list(struct(...)))` keeps
    the aggregation combiner-friendly (no window needed).  The per-doc
    hash commits to content *and* order, so it is the conversation-level
    equality fingerprint.  ``MAX_TURNS_PER_DOC`` caps pathological
    conversations (cost guard in the spirit of the reference's >300-cell
    skips).
    """
    from pyspark.sql import functions as F

    per_turn = extracted.select(
        "conv_id",
        F.struct(F.col("turn_idx"), F.col("html_sha256")).alias("t"),
    )
    return (
        per_turn.groupBy("conv_id")
        .agg(F.sort_array(F.collect_list("t")).alias("turns"))
        .select(
            "conv_id",
            F.size("turns").alias("n_turns"),
            F.sha2(
                F.concat_ws(
                    "|",
                    F.transform(
                        F.slice("turns", 1, MAX_TURNS_PER_DOC),
                        lambda s: s["html_sha256"],
                    ),
                ),
                256,
            ).alias("doc_sha256"),
        )
    )


def salted_join(fact, dim, key: str, *, salts: int = 16, fact_id: str = None):
    """Skew-safe equi-join: ``fact`` joined to a small-but-not-broadcast
    ``dim`` on ``key`` with the hot-key shuffle spread over ``salts``
    tasks.

    A plain sort-merge join funnels EVERY fact row of a hot key through
    one task — at transcript scale a mega-conversation or mega-domain
    is a straggler/OOM (the north-star calls this out explicitly:
    "heavy conversations handled via salted repartition").  AQE's
    skew-join split handles the sort-merge case adaptively; this is the
    explicit form for when AQE is off or the engine must PIN the shape
    (deterministic task counts for lineage replay):

    - fact rows get ``salt = u32_md5(fact_id) % salts`` (md5-derived,
      replay-stable — never a nondeterministic rand());
    - dim rows are replicated ``salts`` times (dim must be the small
      side: replication is x``salts`` on the SMALL input only);
    - the join key becomes (key, salt): a key with f fact rows lands in
      ~f/salts-row chunks.

    Result is row-identical to the unsalted join (the salt column is
    internal and dropped).
    """
    from pyspark.sql import functions as F

    from ..functions.sampling import u32_md5

    fact_id = fact_id or key
    salted_fact = fact.withColumn("_salt", u32_md5(fact_id) % salts)
    replicated = dim.withColumn(
        "_salt",
        F.explode(F.array(*[F.lit(i).cast("long") for i in range(salts)])),
    )
    return salted_fact.join(replicated, [key, "_salt"]).drop("_salt")
