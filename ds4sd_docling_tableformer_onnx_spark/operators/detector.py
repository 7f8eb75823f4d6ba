"""Layout-detector inference (N6, "heron" branch) behind a config gate.

Behavioral re-expression of the reference's layout-detection entry
points (``infer_baseline.py:36-67``: model forward -> DETR-style
post-process -> score threshold 0.25 (P8) -> score-descending id
assignment (W5); ONNX path ``infer_onnx.py``).  The quality gates that
judge these detections are in ``operators/quality.py`` (A12).

Split like operators/realmodel.py so the deterministic 90% is testable
without the runtime:

- ``detr_postprocess`` — pure numpy: class softmax (last class =
  no-object), score threshold, cxcywh->xyxy denormalization to page
  pixels, argsort(-score) with sequential detection ids.
- ``load_onnx_layout_detector`` — binds a single-graph onnxruntime
  session (``pixel_values -> logits, pred_boxes``); missing runtime or
  weights raise ``NotImplementedError`` (none ship in this container).
- ``detect_layout`` — the Spark operator: one ``mapInPandas`` stage
  over (image_id, image, height, width) rows emitting one row per
  detection.  ``predict_fn`` injects a deterministic fake in tests; the
  default is the gated per-worker ONNX session (broadcast-weights
  pattern).
"""

from __future__ import annotations

import os
from typing import Iterator

SCORE_MIN = 0.25  # infer_baseline.py:54-56 / validate_quality.py:43-45

DETECTION_SCHEMA = (
    "image_id long, det_id int, label int, score double, "
    "x0 double, y0 double, x1 double, y1 double, "
    "ok boolean, err string"
)


def detr_postprocess(logits, pred_boxes, width, height):
    """(queries, n_classes+1) logits + (queries, 4) normalized cxcywh
    boxes -> thresholded, score-descending detections in page pixels.

    Mirrors HF ``post_process_object_detection`` (softmax over classes,
    last index is the no-object slot) followed by the reference's
    threshold + ``np.argsort(-scores)`` id assignment
    (infer_baseline.py:54-67).  Returns (labels, scores, boxes_xyxy) in
    detection-id order.
    """
    import numpy as np

    logits = np.asarray(logits, dtype=np.float64)
    pred_boxes = np.asarray(pred_boxes, dtype=np.float64)
    shifted = logits - logits.max(axis=-1, keepdims=True)
    probs = np.exp(shifted)
    probs = probs / probs.sum(axis=-1, keepdims=True)
    class_probs = probs[:, :-1]  # drop the no-object slot
    scores = class_probs.max(axis=-1)
    labels = class_probs.argmax(axis=-1)

    keep = scores > SCORE_MIN
    scores, labels, boxes = scores[keep], labels[keep], pred_boxes[keep]
    order = np.argsort(-scores, kind="stable")
    scores, labels, boxes = scores[order], labels[order], boxes[order]

    cx, cy, w, h = boxes[:, 0], boxes[:, 1], boxes[:, 2], boxes[:, 3]
    xyxy = np.stack(
        [
            (cx - w / 2) * width,
            (cy - h / 2) * height,
            (cx + w / 2) * width,
            (cy + h / 2) * height,
        ],
        axis=1,
    )
    return labels.astype(int), scores, xyxy


def load_onnx_layout_detector(model_path: str | None = None):
    """Config-gated onnxruntime binding (single graph:
    ``pixel_values f32[1,3,H,W] -> logits, pred_boxes``; the
    convert_to_onnx.py export shape).  Gate order matches
    operators/realmodel.py: unset path, missing runtime, missing file
    each raise a clear ``NotImplementedError``."""
    model_path = model_path or os.environ.get("SPARK_GRAFT_LAYOUT_ONNX")
    if not model_path:
        raise NotImplementedError(
            "layout detection is config-gated: set SPARK_GRAFT_LAYOUT_ONNX "
            "to the exported detector graph"
        )
    try:
        import onnxruntime as ort

        if not callable(getattr(ort, "InferenceSession", None)):
            raise ImportError("onnxruntime lacks InferenceSession")
    except ImportError as exc:
        raise NotImplementedError(
            "layout detection requires onnxruntime; not present in this "
            "container — inject predict_fn or use the quality gates on "
            "precomputed detections"
        ) from exc
    if not os.path.exists(model_path):
        raise NotImplementedError(f"detector graph missing: {model_path}")

    session = ort.InferenceSession(model_path, providers=["CPUExecutionProvider"])

    def predict(pixels, width, height):
        # batched contract: pixels f32[B,3,H,W] -> list of B per-image
        # (labels, scores, boxes) tuples, ONE session.run per stack
        logits, pred_boxes = session.run(None, {"pixel_values": pixels})
        return [
            detr_postprocess(logits[i], pred_boxes[i], width, height)
            for i in range(len(pixels))
        ]

    predict.batched = True
    return predict


def _detection_batches(batches: Iterator, predict_fn):
    import numpy as np
    import pandas as pd

    predict = predict_fn or load_onnx_layout_detector()
    is_batched = bool(getattr(predict, "batched", False))

    def _single(tensor, width, height):
        result = predict(tensor[None], width, height)
        return result[0] if is_batched else result

    for batch in batches:
        n = len(batch["image_id"])
        # results[i]: (labels, scores, boxes) tuple on success, an error
        # STRING on failure — per-image isolation: a bad payload (wrong
        # byte count, model error) becomes one ok=False row, never a
        # task crash (same discipline as functions/rows.row_batches)
        results: list = [None] * n
        groups: dict = {}  # (h, w) -> ([row idx], [pixel tensor])
        for i, (payload, height, width) in enumerate(
            zip(batch["image"], batch["height"], batch["width"])
        ):
            try:
                h, w = int(height), int(width)
                img = np.frombuffer(bytes(payload), dtype=np.uint8)
                img = img.reshape(h, w, 3)  # raises on bad byte count
                pixels = (img.astype(np.float32) / 255.0).transpose(2, 0, 1)
            except Exception as exc:
                results[i] = f"{type(exc).__name__}: {exc}"[:500]
                continue
            idxs, tensors = groups.setdefault((h, w), ([], []))
            idxs.append(i)
            tensors.append(pixels)

        # same-shape images stack into ONE model call per group (the
        # model contract carries a batch dim); ragged sizes simply land
        # in separate groups.  A failed stacked call falls back to
        # per-image so one poison image cannot take down its group.
        for (h, w), (idxs, tensors) in groups.items():
            if is_batched and len(tensors) > 1:
                try:
                    outs = list(predict(np.stack(tensors), w, h))
                    # a model binding returning fewer outputs than the
                    # stacked batch would leave results[i] = None and
                    # crash the emit loop's unpack — treat a short/long
                    # return as a failed stacked call and fall back
                    if len(outs) != len(idxs):
                        raise RuntimeError(
                            f"batched predict returned {len(outs)} outputs "
                            f"for {len(idxs)} inputs"
                        )
                    for i, out in zip(idxs, outs):
                        results[i] = out
                    continue
                except Exception:
                    pass  # isolate below
            for i, tensor in zip(idxs, tensors):
                try:
                    results[i] = _single(tensor, w, h)
                except Exception as exc:
                    results[i] = f"{type(exc).__name__}: {exc}"[:500]

        rows = {k: [] for k in ("image_id", "det_id", "label", "score",
                                "x0", "y0", "x1", "y1", "ok", "err")}
        for i in range(n):  # emit in input order (deterministic output)
            image_id = int(batch["image_id"][i])
            if isinstance(results[i], str):
                rows["image_id"].append(image_id)
                rows["det_id"].append(-1)
                rows["label"].append(-1)
                rows["score"].append(None)
                for key in ("x0", "y0", "x1", "y1"):
                    rows[key].append(None)
                rows["ok"].append(False)
                rows["err"].append(results[i])
                continue
            labels, scores, boxes = results[i]
            for det_id, (label, score, box) in enumerate(zip(labels, scores, boxes)):
                rows["image_id"].append(image_id)
                rows["det_id"].append(det_id)  # W5: ids in score-desc order
                rows["label"].append(int(label))
                rows["score"].append(float(score))
                for key, val in zip(("x0", "y0", "x1", "y1"), box):
                    rows[key].append(float(val))
                rows["ok"].append(True)
                rows["err"].append(None)
        yield pd.DataFrame(rows)


def detect_layout(df, predict_fn=None):
    """(image_id, image binary RGB, height, width) -> one row per
    detection, ids score-descending per image, plus one ``ok=False``
    row per undecodable/failed image (per-image isolation).  Narrow
    mapInPandas stage; the session (or injected ``predict_fn``)
    initializes once per python worker.

    ``predict_fn`` contract: ``predict(pixels, width, height)`` with
    ``pixels f32[1,3,H,W]`` returning one ``(labels, scores, boxes)``
    tuple — or, with attribute ``batched = True``, ``pixels
    f32[B,3,H,W]`` returning a list of B tuples; same-shape images in
    an Arrow batch then cost ONE model call (the default ONNX binding
    is batched)."""
    pruned = df.select("image_id", "image", "height", "width")
    return pruned.mapInPandas(
        lambda it: _detection_batches(it, predict_fn), schema=DETECTION_SCHEMA
    )
