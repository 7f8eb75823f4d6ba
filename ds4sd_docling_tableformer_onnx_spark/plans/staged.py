"""Staged extraction DAG with checkpoint tables between stages.

Mirror of the reference's staged-export chain (SURVEY §3.3:
page_input -> ... -> sequence_decoding -> cell_matching ->
post_processing, each stage persisting a SHA-256-keyed snapshot that the
next stage re-loads).  Here each stage is a DataFrame transformation
whose output lands in a checkpoint table; a restarted run resumes from
the last complete stage, and every stage row carries lineage
(run_id, stage, partition_id, payload_sha256).

Stages:
    extract   per-turn extraction (mapInArrow, shuffle-free)
    cells     exploded response-cell table (relational boundary)
    convdocs  per-conversation ordered document hashes (one shuffle)
"""

from __future__ import annotations

from .checkpoint import read_checkpoint, run_with_checkpoint, with_lineage


def run_staged_extraction(spark, transcripts_df, base_path: str, run_id: str):
    """Run the three-stage DAG with checkpoints under ``base_path``.

    Returns {"extract": df, "cells": df, "convdocs": df, "skipped": int}.
    Idempotent: re-running with the same inputs extracts nothing new and
    rebuilds downstream stages from the checkpoint tables.
    """
    from ..operators.relational import (
        conversation_documents,
        dense_reindex_cells,
        explode_response_cells,
    )

    extract_path = f"{base_path}/stage=extract"
    cells_path = f"{base_path}/stage=cells"
    convdocs_path = f"{base_path}/stage=convdocs"

    # stage 1: extraction (resume: only un-checkpointed turns run);
    # stages 2 and 3 read the whole checkpoint, earlier runs included
    _, skipped = run_with_checkpoint(spark, transcripts_df, extract_path, run_id)
    extracted = read_checkpoint(spark, extract_path)

    # stage 2: relational cell table (rebuilt from the stage-1 checkpoint,
    # exactly as the reference's cell_matching stage re-loads the
    # sequence_decoding snapshot)
    cells = dense_reindex_cells(explode_response_cells(extracted))
    with_lineage(cells, run_id, "cells").write.mode("overwrite").parquet(cells_path)

    # stage 3: conversation documents
    convdocs = conversation_documents(extracted)
    with_lineage(convdocs, run_id, "convdocs").write.mode("overwrite").parquet(
        convdocs_path
    )

    return {
        "extract": extracted,
        "cells": spark.read.parquet(cells_path),
        "convdocs": spark.read.parquet(convdocs_path),
        "skipped": skipped,
    }
