"""Per-turn extraction pipeline: prediction payload -> table grid output.

One call = one transcript turn.  The neural stage of the reference
(image -> tag/bbox decoding) is upstream of this pipeline; its output —
``tag_seq`` (or ``rs_seq``), ``bboxes``, ``classes`` — arrives in the
turn payload, exactly as the reference's staged-export chain replays
persisted neural outputs (``scripts/export_tableformer_sequence_decoding.py``
decodes from snapshots without re-running the model).  Everything from
there is deterministic and parity-tested:

    tags -> OTSL -> HTML          (decode + D7)
    square check, bbox-sync repair (D4/D5)
    translate bboxes to page coords, build structural cells (D8/D9)
    intersection matching (J1), matching post-process (steps 0-9)
    Docling response assembly + merge + dense re-index (J3/J4/W1/W2)

Reference lifecycle: tf_predictor.py predict() 705-843 (matched path),
predict_dummy() 585-703 (no-tokens path), multi_table_predict() 466-583
(re-index + counts).
"""

from __future__ import annotations

from ..config import decode_tag_sequence
from . import otsl as otsl_mod
from .cells import (
    build_table_cells,
    check_bbox_sync,
    intersection_over_pdf_match,
    normalize_pdf_cells,
    translate_bboxes,
)
from .postprocess import process as post_process
from .response import dense_reindex, dummy_response, matched_response, merge_output


def decode_prediction(payload):
    """Normalize a turn payload into a prediction dict with
    ``tag_seq/rs_seq/html_seq/bboxes/classes`` (reference predict()
    decode block, tf_predictor.py:742-793).

    Payload variants:
    - ``raw_tags`` (+ ``raw_bboxes`` cxcywh, ``raw_classes``): an
      uncorrected decoder stream — runs the D1-D3 surrogate decoder;
    - ``tag_seq``: already-decoded ids including sentinels;
    - ``otsl``: raw tag strings.
    """
    if payload.get("raw_tags") is not None:
        from .decoder import surrogate_predict

        decoded = surrogate_predict(
            payload["raw_tags"],
            payload.get("raw_bboxes") or [],
            payload.get("raw_classes") or [],
        )
        payload = {**payload, **decoded}
    prediction = {
        "bboxes": [list(b) for b in payload.get("bboxes", [])],
        "classes": list(payload.get("classes", [])),
    }
    if "tag_seq" in payload and payload["tag_seq"] is not None:
        prediction["tag_seq"] = list(payload["tag_seq"])
        prediction["rs_seq"] = decode_tag_sequence(prediction["tag_seq"])
    else:
        prediction["rs_seq"] = otsl_mod.clean_tags(list(payload["otsl"]))
        prediction["tag_seq"] = []
    prediction["html_seq"] = otsl_mod.otsl_to_html(prediction["rs_seq"])
    return prediction


def extract_turn(payload, correct_overlapping_cells=False, sort_row_col_indexes=True):
    """Run the full deterministic extraction for one turn.

    ``payload`` keys:
      tag_seq | otsl   decoder output (ids incl. sentinels, or raw tags)
      bboxes           normalized table-system cell bboxes
      classes          per-cell class ids
      table_bbox       table bbox in page coordinates
      page_width/height
      pdf_cells        optional text tokens [{id, text, bbox}]; matching
                       is auto-disabled when absent (predictor.py:85-123)

    Returns a dict with ``tf_responses`` (the canonical per-turn output),
    ``html_seq``/``rs_seq``, grid counts and diagnostics.
    """
    prediction = decode_prediction(payload)
    table_bbox = list(payload["table_bbox"])
    pdf_cells = normalize_pdf_cells(payload.get("pdf_cells") or [])
    do_matching = bool(pdf_cells) and payload.get("do_matching", True)

    square = otsl_mod.is_square(prediction["rs_seq"])
    sync, bboxes = check_bbox_sync(prediction["html_seq"], prediction["bboxes"])
    prediction["bboxes"] = bboxes

    tf_responses, table_cells, matches = [], [], {}
    if prediction["bboxes"]:
        bboxes_page = translate_bboxes(table_bbox, prediction["bboxes"])
        table_cells = build_table_cells(
            prediction["html_seq"],
            prediction["rs_seq"],
            bboxes_page,
            prediction["classes"],
        )
        if do_matching:
            matches, _ = intersection_over_pdf_match(table_cells, pdf_cells)
            details = post_process(
                {"table_cells": table_cells, "matches": matches, "pdf_cells": pdf_cells},
                correct_overlapping_cells,
            )
            table_cells, matches = details["table_cells"], details["matches"]
            docling = matched_response(table_cells, matches)
            docling.sort(key=lambda c: c["cell_id"])
            tf_responses = merge_output(docling, details["pdf_cells"])
        else:
            tf_responses = dummy_response(table_cells)
            tf_responses.sort(key=lambda c: c["cell_id"])

    if sort_row_col_indexes:
        # parity: with re-indexing on, counts derive from the response
        # cells — an empty response yields 0x0 (tf_predictor.py:537-567)
        num_cols, num_rows = dense_reindex(tf_responses)
    else:
        rs_seq = prediction["rs_seq"]
        num_cols = rs_seq.index("nl") if "nl" in rs_seq else len(rs_seq)
        num_rows = rs_seq.count("nl")

    return {
        "tf_responses": tf_responses,
        "rs_seq": prediction["rs_seq"],
        "html_seq": prediction["html_seq"],
        "num_cols": num_cols,
        "num_rows": num_rows,
        "n_cells": len(table_cells),
        "n_matches": len(matches),
        "bbox_sync": sync,
        "square": square,
        "matched": do_matching,
    }
