"""Detection-quality gates (A12): IoU + greedy matching parity and the
Spark KPI rollup."""

import random
import sys

import pytest

from ds4sd_docling_tableformer_onnx_spark.operators.quality import (
    acceptance,
    box_iou,
    detection_quality,
    greedy_label_match,
    quality_kpis,
)

from .conftest import REFERENCE_DIR


def test_box_iou_matches_reference_impl():
    sys.path.insert(0, str(REFERENCE_DIR))
    try:
        from pipeline_utils import box_iou as ref_iou
    except Exception:
        pytest.skip("reference pipeline_utils not importable")
    finally:
        sys.path.pop(0)
    rng = random.Random(42)
    for _ in range(500):
        a = sorted(rng.uniform(0, 100) for _ in range(2))
        b = sorted(rng.uniform(0, 100) for _ in range(2))
        box1 = [a[0], b[0], a[1], b[1]]
        c = sorted(rng.uniform(0, 100) for _ in range(2))
        d = sorted(rng.uniform(0, 100) for _ in range(2))
        box2 = [c[0], d[0], c[1], d[1]]
        assert box_iou(box1, box2) == ref_iou(box1, box2)


def test_greedy_match_claims_best_first():
    base = [
        {"label": "t", "bbox": [0, 0, 10, 10]},
        {"label": "t", "bbox": [20, 0, 30, 10]},
    ]
    variant = [
        {"label": "t", "bbox": [1, 0, 11, 10]},   # best for base[0]
        {"label": "t", "bbox": [21, 0, 31, 10]},  # best for base[1]
        {"label": "x", "bbox": [0, 0, 10, 10]},   # different label: ignored
    ]
    ious = greedy_label_match(base, variant)
    assert len(ious) == 2
    assert all(i > 0.8 for i in ious)
    # below min_iou -> unmatched
    assert greedy_label_match(base, [{"label": "t", "bbox": [90, 90, 99, 99]}]) == []


def test_acceptance_thresholds():
    assert acceptance(0.995, 1.0, 0.5, speedup_ok=True, size_ok=False)
    assert acceptance(0.995, 1.0, 0.5, speedup_ok=False, size_ok=True)
    assert not acceptance(0.98, 1.0, 0.5, True, False)     # mean IoU too low
    assert not acceptance(0.995, 0.99, 0.5, True, False)   # IoU@0.5 too low
    assert not acceptance(0.995, 1.0, 1.5, True, False)    # box delta too large
    assert not acceptance(0.995, 1.0, 0.5, speedup_ok=False, size_ok=False)


def test_spark_quality_rollup(spark):
    rows = []
    for img in range(4):
        for i in range(5):
            bbox = [10.0 * i, 0.0, 10.0 * i + 8.0, 8.0]
            rows.append((f"img{img}", "base", "table", bbox, 0.9))
            # variant slightly jittered -> high IoU
            rows.append(
                (f"img{img}", "variant", "table", [bbox[0] + 0.1, 0.0, bbox[2] + 0.1, 8.0], 0.9)
            )
    df = spark.createDataFrame(
        rows, "image_id string, side string, label string, bbox array<double>, score double"
    )
    per_image = detection_quality(df)
    assert per_image.count() == 4
    kpis = quality_kpis(per_image).first()
    assert kpis["matched"] == 20
    assert kpis["iou50"] == 1.0
    assert kpis["accepted"] is False or kpis["mean_iou"] >= 0.97  # jitter keeps IoU ~0.975
