"""Config-gated real neural decode (N1-N5) behind the surrogate boundary.

The engine's default neural stage is the deterministic surrogate
(core/decoder.py): fixture tag streams replayed through the shared
D1-D3 bookkeeping — the reference's own staged-replay trick
(scripts/export_tableformer_sequence_decoding.py:110-117).  This module
is the OTHER side of that boundary: a live greedy decode loop driving
real model sessions, mirroring the reference inference lifecycle
(tf_predictor.py:705-843 predict(), tablemodel04_rs.py:179-273 the
autoregressive loop with in-loop grammar corrections and hidden-state
buffering, bbox_decoder_rs.py:18-168 the per-cell bbox head).

Split so everything deterministic is testable WITHOUT the runtime:

- ``greedy_decode(encoder_fn, step_fn, bbox_fn, tensor)`` — the loop
  itself takes plain callables; unit tests drive it with scripted fakes
  and assert it reproduces fixture tag streams (corrections included).
- ``load_onnx_decoder(model_dir)`` — binds the loop to onnxruntime
  sessions under a documented three-graph contract (encoder /
  decoder_step / bbox_head, the convert_to_onnx-style export shape).
  Gated functionally: missing runtime or weights raise a clear
  ``NotImplementedError``; the surrogate remains the default.

Per-executor lifecycle: ``operators.neural._Artifacts`` constructs this
once per python worker when ``SPARK_GRAFT_ONNX_DIR`` is set (the
broadcast-weights pattern, reference init lock tf_predictor.py:40).
"""

from __future__ import annotations

import os

from ..config import MAX_STEPS, WORD_MAP_TAG
from ..core.decoder import decode_tag_stream, merge_span_bboxes, cxcywh_to_xyxy

# Three-graph ONNX export contract (file names inside SPARK_GRAFT_ONNX_DIR).
# encoder.onnx      : image f32[1,3,448,448]            -> enc_out f32[1,S,D]
# decoder_step.onnx : enc_out, tags i64[1,T]            -> logits f32[V], hidden f32[D]
#                     (cached incremental decode: logits/hidden for the
#                     LAST position only — transformer_rs.py:62-117)
# bbox_head.onnx    : enc_out, hiddens f32[N,D]         -> boxes f32[N,4] (cxcywh,
#                     sigmoid), class_logits f32[N,C]   (bbox_decoder_rs.py)
ONNX_GRAPHS = ("encoder.onnx", "decoder_step.onnx", "bbox_head.onnx")

_START = WORD_MAP_TAG["<start>"]
_END = WORD_MAP_TAG["<end>"]
_LCEL = WORD_MAP_TAG["lcel"]
_XCEL = WORD_MAP_TAG["xcel"]
_FCEL = WORD_MAP_TAG["fcel"]
_UCEL = WORD_MAP_TAG["ucel"]


def greedy_decode(encoder_fn, step_fn, bbox_fn, tensor, max_steps: int = MAX_STEPS):
    """Live autoregressive decode with in-loop grammar corrections.

    Unlike the surrogate (which corrects a *given* stream post-hoc), a
    live model must feed the CORRECTED tag back as the next step's input
    — the reference appends the corrected tag to ``decoded_tags`` before
    the next decoder call (tablemodel04_rs.py:222-273).  Corrections are
    idempotent, so the shared ``decode_tag_stream`` bookkeeping over the
    corrected stream is a no-op on tags and supplies the bbox
    emit/merge maps exactly as in the surrogate path.

    Returns the same dict shape as ``surrogate_predict``.
    """
    import numpy as np

    enc_out = encoder_fn(tensor)
    context = [_START]
    corrected = []
    hiddens = []
    prev_ucel = False
    while len(corrected) < max_steps:
        logits, hidden = step_fn(enc_out, np.asarray([context], dtype=np.int64))
        tag = int(np.argmax(logits))
        # D1 in-loop grammar corrections (parity: line_num stays 0, so
        # the xcel->lcel rule applies to the whole stream)
        if tag == _XCEL:
            tag = _LCEL
        if prev_ucel and tag == _LCEL:
            tag = _FCEL
        prev_ucel = tag == _UCEL
        context.append(tag)
        corrected.append(tag)
        hiddens.append(hidden)
        if tag == _END:
            break

    seq, emit_steps, merge_map = decode_tag_stream(corrected, max_steps)
    if emit_steps:
        hid_mat = np.stack([hiddens[s] for s in emit_steps])
        boxes_cxcywh, class_logits = bbox_fn(enc_out, hid_mat)
        raw_boxes = [list(map(float, b)) for b in boxes_cxcywh]
        raw_classes = [int(c) for c in np.argmax(class_logits, axis=-1)]
    else:
        raw_boxes, raw_classes = [], []
    merged_boxes, merged_classes = merge_span_bboxes(raw_boxes, raw_classes, merge_map)
    return {
        "tag_seq": seq,
        "bboxes": [cxcywh_to_xyxy(b) for b in merged_boxes],
        "classes": list(merged_classes),
    }


def load_onnx_decoder(model_dir: str | None = None):
    """Bind the greedy loop to onnxruntime sessions (the config gate).

    ``model_dir`` defaults to ``$SPARK_GRAFT_ONNX_DIR``.  Missing
    runtime, unset gate, or missing graph files raise
    ``NotImplementedError`` with the exact reason — callers fall back to
    the surrogate (the default in this container, which ships neither
    onnxruntime nor weights).
    """
    model_dir = model_dir or os.environ.get("SPARK_GRAFT_ONNX_DIR")
    if not model_dir:
        raise NotImplementedError(
            "real neural decode is config-gated: set SPARK_GRAFT_ONNX_DIR "
            "to a directory holding " + ", ".join(ONNX_GRAPHS)
        )
    try:
        import onnxruntime as ort

        if not callable(getattr(ort, "InferenceSession", None)):
            raise ImportError("onnxruntime lacks InferenceSession")
    except ImportError as exc:
        raise NotImplementedError(
            "real neural decode requires onnxruntime; not present in this "
            "container — the deterministic surrogate (core/decoder.py) is "
            "the default path"
        ) from exc
    paths = {g: os.path.join(model_dir, g) for g in ONNX_GRAPHS}
    missing = [g for g, p in paths.items() if not os.path.exists(p)]
    if missing:
        raise NotImplementedError(
            f"model graphs missing from {model_dir}: {', '.join(missing)}"
        )

    sessions = {
        g: ort.InferenceSession(paths[g], providers=["CPUExecutionProvider"])
        for g in ONNX_GRAPHS
    }

    def encoder_fn(tensor):
        return sessions["encoder.onnx"].run(None, {"image": tensor})[0]

    def step_fn(enc_out, tags):
        logits, hidden = sessions["decoder_step.onnx"].run(
            None, {"enc_out": enc_out, "tags": tags}
        )
        return logits, hidden

    def bbox_fn(enc_out, hiddens):
        boxes, class_logits = sessions["bbox_head.onnx"].run(
            None, {"enc_out": enc_out, "hiddens": hiddens}
        )
        return boxes, class_logits

    def predict(tensor):
        return greedy_decode(encoder_fn, step_fn, bbox_fn, tensor)

    return predict
