"""Streaming extraction: transcripts landing as files -> extracted turns.

The reference is a pure batch pipeline (SURVEY §2.11: no streaming
operators); this wrapper exists because the *target* workload —
transcripts accumulating in an Iceberg table — naturally runs as an
incremental job.  The extraction operator is a narrow, stateless map, so
it lifts onto ``readStream`` unchanged: exactly-once delivery comes from
the sink checkpoint.

Batch and streaming share the same ``extract_transcripts`` code path —
one operator, two execution modes.
"""

from __future__ import annotations

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, "
    "ts timestamp, payload_id int"
)


def stream_extract(spark, input_dir: str):
    """File-source streaming extraction (on a cluster: Iceberg/Kafka
    source; identical transformation graph)."""
    from ..operators.extract import extract_transcripts

    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
    )
    return extract_transcripts(stream)


def run_to_completion(stream_df, output_dir: str, checkpoint_dir: str):
    """Drain all currently-available input (Trigger.AvailableNow) into a
    parquet sink with an exactly-once checkpoint; returns the query."""
    query = (
        stream_df.writeStream.format("parquet")
        .outputMode("append")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query
