"""Layout-detector inference (N6): DETR post-process, config gate, and
the Spark detection operator with an injected deterministic model."""

import numpy as np
import pytest

from ds4sd_docling_tableformer_onnx_spark.operators.detector import (
    SCORE_MIN,
    detect_layout,
    detr_postprocess,
    load_onnx_layout_detector,
)


def test_detr_postprocess_threshold_order_and_scaling():
    # 4 queries, 3 classes + no-object slot; logits chosen so softmax
    # scores are easy to reason about
    logits = np.array(
        [
            [4.0, 0.0, 0.0, 0.0],   # class 0, high score
            [0.0, 2.0, 0.0, 0.0],   # class 1, mid score
            [0.0, 0.0, 0.0, 4.0],   # no-object dominant -> low class score
            [0.0, 0.0, 3.0, 0.0],   # class 2, high-ish
        ]
    )
    boxes = np.array(
        [
            [0.5, 0.5, 0.2, 0.2],
            [0.25, 0.25, 0.1, 0.1],
            [0.9, 0.9, 0.1, 0.1],
            [0.75, 0.5, 0.5, 1.0],
        ]
    )
    labels, scores, xyxy = detr_postprocess(logits, boxes, width=100, height=200)
    # the no-object query's best class prob is ~0.017 < 0.25: dropped
    assert list(labels) == [0, 2, 1]  # score-descending
    assert all(scores[i] >= scores[i + 1] for i in range(len(scores) - 1))
    assert scores.min() > SCORE_MIN
    # softmax check for the top one: e^4 / (e^4 + 3)
    assert scores[0] == pytest.approx(np.exp(4) / (np.exp(4) + 3))
    # cxcywh (normalized) -> xyxy in page pixels
    assert list(xyxy[0]) == pytest.approx([40.0, 80.0, 60.0, 120.0])
    # rank 1 is the class-2 query (score e^3/(e^3+3)); its full-height
    # box denormalizes to the whole page vertically
    assert list(xyxy[1]) == pytest.approx([50.0, 0.0, 100.0, 200.0])
    # rank 2 is the class-1 query's box
    assert list(xyxy[2]) == pytest.approx([20.0, 40.0, 30.0, 60.0])


def test_detr_postprocess_all_below_threshold():
    logits = np.zeros((5, 4))  # uniform probs -> class score 0.25, not > 0.25
    boxes = np.tile([0.5, 0.5, 0.1, 0.1], (5, 1))
    labels, scores, xyxy = detr_postprocess(logits, boxes, 10, 10)
    assert len(labels) == len(scores) == len(xyxy) == 0


def test_layout_gate_raises_cleanly(tmp_path, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_LAYOUT_ONNX", raising=False)
    with pytest.raises(NotImplementedError, match="SPARK_GRAFT_LAYOUT_ONNX"):
        load_onnx_layout_detector()
    with pytest.raises(NotImplementedError):
        load_onnx_layout_detector(str(tmp_path / "missing.onnx"))


def _fake_predict(pixels, width, height):
    """Deterministic stand-in model: emits one box per image whose
    score encodes the mean pixel, plus a fixed low-score box that must
    survive or drop based on the threshold."""
    mean = float(pixels.mean())
    logits = np.array(
        [
            [3.0 + mean, 0.0, 0.0, 0.0],
            [0.0, 1.0, 0.0, 0.0],
            [0.0, 0.0, 0.0, 5.0],  # no-object: always dropped
        ]
    )
    boxes = np.array(
        [
            [0.5, 0.5, 0.5, 0.5],
            [0.25, 0.25, 0.2, 0.2],
            [0.1, 0.1, 0.1, 0.1],
        ]
    )
    return detr_postprocess(logits, boxes, width, height)


def test_detect_layout_operator(spark):
    rows = []
    for i in range(6):
        h, w = 8, 10
        img = np.full((h, w, 3), 30 * i, dtype=np.uint8)
        rows.append((i, bytearray(img.tobytes()), h, w))
    df = spark.createDataFrame(
        rows, "image_id long, image binary, height int, width int"
    )
    out = detect_layout(df, predict_fn=_fake_predict).collect()
    per_image = {}
    for r in out:
        per_image.setdefault(r["image_id"], []).append(r)
    assert set(per_image) == set(range(6))
    for image_id, dets in per_image.items():
        # ids sequential from 0 in score-descending order (W5)
        dets = sorted(dets, key=lambda r: r["det_id"])
        assert [d["det_id"] for d in dets] == list(range(len(dets)))
        assert all(
            dets[i]["score"] >= dets[i + 1]["score"] for i in range(len(dets) - 1)
        )
        assert all(d["score"] > SCORE_MIN for d in dets)
        # box scaled to this image's pixel size
        top = dets[0]
        assert (top["x0"], top["x1"]) == (2.5, 7.5)
        assert (top["y0"], top["y1"]) == (2.0, 6.0)
    # deterministic across runs
    again = detect_layout(df, predict_fn=_fake_predict).collect()
    assert sorted(map(str, out)) == sorted(map(str, again))


def test_detections_feed_quality_gates(spark):
    """N6 output plugs into the A12 quality gates: identical baseline
    and variant detections must pass acceptance with mean IoU 1.0."""
    from ds4sd_docling_tableformer_onnx_spark.operators.quality import (
        acceptance,
        greedy_label_match,
        image_quality,
    )

    rows = [(0, bytearray(np.zeros((4, 4, 3), np.uint8).tobytes()), 4, 4)]
    df = spark.createDataFrame(
        rows, "image_id long, image binary, height int, width int"
    )
    dets = [
        {"label": r["label"], "bbox": [r["x0"], r["y0"], r["x1"], r["y1"]]}
        for r in detect_layout(df, predict_fn=_fake_predict).collect()
    ]
    assert dets
    ious = greedy_label_match(dets, dets)
    assert ious and all(i == pytest.approx(1.0) for i in ious)
    matched_ious, delta_pct = image_quality(dets, dets)
    mean_iou = sum(matched_ious) / len(matched_ious)
    iou50 = sum(1 for i in matched_ious if i >= 0.5) / len(matched_ious)
    assert acceptance(mean_iou, iou50, delta_pct, speedup_ok=True, size_ok=False)


def _batch_echo_predict(pixels, width, height):
    """Batched stand-in whose every detection's label ENCODES the stack
    size it was called with — workers are separate processes, so the
    call count is smuggled out through the data itself."""
    batch_size = len(pixels)
    outs = []
    for _ in range(batch_size):
        # 1 survivor: query 2's class prob e^0/(e^0+e^2) ~ 0.12 < 0.25
        logits = np.array([[6.0, 0.0], [0.0, 2.0]])
        boxes = np.array([[0.5, 0.5, 0.5, 0.5], [0.1, 0.1, 0.1, 0.1]])
        labels, scores, xyxy = detr_postprocess(logits, boxes, width, height)
        outs.append((np.full(len(labels), batch_size), scores, xyxy))
    return outs


_batch_echo_predict.batched = True


def test_batched_predict_one_call_per_stack(spark):
    """Same-shape images in one Arrow batch must reach the model as ONE
    stacked call (VERDICT r2 item 6): every emitted label carries the
    stack size the predict saw."""
    rows = [
        (i, bytearray(np.full((8, 10, 3), 7 * i, np.uint8).tobytes()), 8, 10)
        for i in range(6)
    ]
    df = spark.createDataFrame(
        rows, "image_id long, image binary, height int, width int"
    ).coalesce(1)  # one partition -> one Arrow batch -> one stack
    out = detect_layout(df, predict_fn=_batch_echo_predict).collect()
    assert len(out) == 6
    assert all(r["label"] == 6 for r in out)  # one predict call, B=6
    assert all(r["ok"] for r in out)

    # ragged sizes split into per-shape stacks, never one mixed call
    ragged = rows[:3] + [
        (9, bytearray(np.zeros((4, 4, 3), np.uint8).tobytes()), 4, 4)
    ]
    df2 = spark.createDataFrame(
        ragged, "image_id long, image binary, height int, width int"
    ).coalesce(1)
    out2 = {r["image_id"]: r["label"] for r in
            detect_layout(df2, predict_fn=_batch_echo_predict).collect()}
    assert out2[0] == out2[1] == out2[2] == 3  # the 8x10 stack
    assert out2[9] == 1  # the lone 4x4 image (single-image call)


def test_bad_image_is_isolated_error_row(spark):
    """A payload whose byte count does not match height*width*3 must
    become one ok=False row and leave its batch-mates intact (ADVICE
    r2 item 1)."""
    good = bytearray(np.full((8, 10, 3), 40, np.uint8).tobytes())
    rows = [
        (0, good, 8, 10),
        (1, bytearray(b"\x00" * 17), 8, 10),  # wrong byte count
        (2, good, 8, 10),
    ]
    df = spark.createDataFrame(
        rows, "image_id long, image binary, height int, width int"
    ).coalesce(1)
    out = detect_layout(df, predict_fn=_fake_predict).collect()
    by_image = {}
    for r in out:
        by_image.setdefault(r["image_id"], []).append(r)
    assert all(r["ok"] for r in by_image[0] + by_image[2])
    (bad,) = by_image[1]
    assert bad["ok"] is False and "cannot reshape" in bad["err"]
    assert bad["det_id"] == -1 and bad["score"] is None
    # good images produced identical detections despite the poison row
    assert len(by_image[0]) == len(by_image[2]) >= 1


def test_poison_image_in_batched_stack_falls_back_per_image(spark):
    """A stacked call that throws must degrade to per-image calls so
    only the poison image errors."""

    def _poison_predict(pixels, width, height):
        import numpy as np  # noqa: F811

        if len(pixels) > 1:
            raise RuntimeError("batch refused")
        if float(pixels.mean()) == 0.0:
            raise ValueError("poison image")
        logits = np.array([[6.0, 0.0], [0.0, 1.0]])
        boxes = np.array([[0.5, 0.5, 0.5, 0.5], [0.1, 0.1, 0.1, 0.1]])
        return [detr_postprocess(logits, boxes, width, height)]

    _poison_predict.batched = True
    rows = [
        (0, bytearray(np.full((4, 4, 3), 50, np.uint8).tobytes()), 4, 4),
        (1, bytearray(np.zeros((4, 4, 3), np.uint8).tobytes()), 4, 4),
        (2, bytearray(np.full((4, 4, 3), 90, np.uint8).tobytes()), 4, 4),
    ]
    df = spark.createDataFrame(
        rows, "image_id long, image binary, height int, width int"
    ).coalesce(1)
    out = {r["image_id"]: r for r in
           detect_layout(df, predict_fn=_poison_predict).collect()}
    assert out[0]["ok"] and out[2]["ok"]
    assert not out[1]["ok"] and "poison image" in out[1]["err"]


def test_detr_postprocess_differential_random():
    """Differential property: 200 random (logits, boxes) instances vs an
    independent straight-line reimplementation — same survivors, same
    order, same pixel boxes."""
    rng = np.random.default_rng(17)
    for _ in range(200):
        q = rng.integers(1, 30)
        n_classes = rng.integers(1, 6)
        logits = rng.normal(0, 2, size=(q, n_classes + 1))
        boxes = rng.uniform(0, 1, size=(q, 4))
        w, h = float(rng.integers(50, 2000)), float(rng.integers(50, 2000))

        labels, scores, xyxy = detr_postprocess(logits, boxes, w, h)

        # independent reference
        exp = np.exp(logits - logits.max(axis=1, keepdims=True))
        probs = exp / exp.sum(axis=1, keepdims=True)
        ref = []
        for i in range(q):
            cls = int(np.argmax(probs[i, :-1]))
            score = float(probs[i, cls])
            if score > SCORE_MIN:
                cx, cy, bw, bh = boxes[i]
                ref.append((score, i, cls,
                            [(cx - bw / 2) * w, (cy - bh / 2) * h,
                             (cx + bw / 2) * w, (cy + bh / 2) * h]))
        ref.sort(key=lambda t: (-t[0], t[1]))  # stable score-desc

        assert len(labels) == len(ref)
        for k, (score, _i, cls, box) in enumerate(ref):
            assert labels[k] == cls
            assert scores[k] == pytest.approx(score, rel=1e-12)
            assert list(xyxy[k]) == pytest.approx(box, rel=1e-9, abs=1e-9)
