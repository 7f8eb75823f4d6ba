"""Driver contract for the spark-graft builder (PySpark target).

``entry``      flagship: the per-turn extraction pipeline over synthetic
               transcripts (payloads anchored in the reference repo's
               golden fixtures) + per-turn text-equality verification.
``queries``    one entry per implemented operator family from SURVEY §2
               and the training-data pipeline operators; oracle-checked
               against DuckDB where SQL-expressible.
``oracle_sql`` the DuckDB-equivalent SQL for every oracle-checked query.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ds4sd_docling_tableformer_onnx_spark.queries import ORACLES, QUERIES

_ENTRY_TURNS = 500  # deterministic transcript size of the flagship smoke run


def _extraction_pipeline(spark: SparkSession) -> DataFrame:
    """Flagship: generate transcripts, extract every turn, verify each
    turn's HTML structure tokens against the reference fixtures."""
    from pyspark.sql import functions as F

    from ds4sd_docling_tableformer_onnx_spark.operators.extract import (
        extract_transcripts,
        verify_against_pool,
    )
    from ds4sd_docling_tableformer_onnx_spark.sources.transcripts import (
        generate_transcripts,
        payload_pool_df,
    )

    transcripts = generate_transcripts(spark, n_turns=_ENTRY_TURNS, seed=42)
    verified = verify_against_pool(
        extract_transcripts(transcripts), payload_pool_df(spark)
    )
    return verified.select(
        "conv_id",
        "turn_idx",
        "payload_id",
        "ok",
        "num_rows",
        "num_cols",
        "n_cells",
        "n_matches",
        "html_sha256",
        "html_match",
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query over _ENTRY_TURNS turns (driver smoke check: rows > 0)."""
    return _extraction_pipeline(spark)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Every entry is oracle-checked (QUERIES/ORACLES are registered in
    # pairs — including the flagship extraction summary, the LSH/SimHash
    # paths replicated bit-for-bit in DuckDB SQL, and the IVF
    # asserted-in-query recall verdict).
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(ORACLES)
