"""Detection-quality gates (A12): greedy per-label IoU matching, KPI
aggregates and acceptance thresholds.

Behavioral re-expression of the reference's layout-detector validation
(``scripts/validate_quality.py:70-105`` greedy matching per label,
106-121 metrics, 199-208 acceptance; ``pipeline_utils.py:84-98`` IoU).

Spark shape: the greedy matching is order-sensitive *within one image*
(baseline boxes claim variant boxes first-come), so it runs per image
inside ``applyInPandas``; the KPI rollup is a plain aggregation.  A set
of predictions at 100 TB scale is a DataFrame
(image_id, side, box_id, label, bbox, score) — the shuffle key is
image_id and skew is bounded by per-image box counts.
"""

from __future__ import annotations

# acceptance thresholds (validate_quality.py:199-208)
IOU50_MIN = 0.995
MEAN_IOU_MIN = 0.99
DELTA_BOX_MAX_PCT = 1.0
# a baseline box claims no variant box below this IoU (validate_quality.py:70-88)
MATCH_IOU_MIN = 0.1


def box_iou(a, b):
    """Clamped IoU of two [x0, y0, x1, y1] boxes
    (pipeline_utils.py:84-98)."""
    inter_w = max(0.0, min(a[2], b[2]) - max(a[0], b[0]))
    inter_h = max(0.0, min(a[3], b[3]) - max(a[1], b[1]))
    inter = inter_w * inter_h
    area_a = max(0.0, a[2] - a[0]) * max(0.0, a[3] - a[1])
    area_b = max(0.0, b[2] - b[0]) * max(0.0, b[3] - b[1])
    union = area_a + area_b - inter
    return inter / union if union > 0 else 0.0


def greedy_label_match(base, variant):
    """Per label: each baseline box greedily claims the unclaimed variant
    box with the highest IoU (>= ``MATCH_IOU_MIN``); returns the matched IoUs
    (validate_quality.py:70-88).

    parity: labels iterate in the union-set order is irrelevant to the
    multiset of IoUs because labels partition the boxes; within a label,
    baseline order drives the greedy claims — preserved.
    """
    ious = []
    labels = {b["label"] for b in base} | {v["label"] for v in variant}
    for label in labels:
        b_boxes = [b for b in base if b["label"] == label]
        v_boxes = [v for v in variant if v["label"] == label]
        used = [False] * len(v_boxes)
        for b in b_boxes:
            best_iou, best_j = 0.0, -1
            for j, v in enumerate(v_boxes):
                if used[j]:
                    continue
                iou = box_iou(b["bbox"], v["bbox"])
                if iou > best_iou:
                    best_iou, best_j = iou, j
            if best_iou >= MATCH_IOU_MIN and best_j >= 0:
                used[best_j] = True
                ious.append(best_iou)
    return ious


def image_quality(base, variant):
    """Per-image quality record: matched IoUs + box-count delta %."""
    ious = greedy_label_match(base, variant)
    delta_pct = (len(variant) - len(base)) / max(1, len(base)) * 100.0
    return ious, delta_pct


def acceptance(mean_iou, iou50, delta_box_pct, speedup_ok, size_ok):
    """The reference's quality gate (validate_quality.py:199-208): the
    KPI thresholds plus its speedup-or-size clause, which the KPIs
    themselves cannot show."""
    return (
        iou50 >= IOU50_MIN
        and mean_iou >= MEAN_IOU_MIN
        and abs(delta_box_pct) <= DELTA_BOX_MAX_PCT
        and (speedup_ok or size_ok)
    )


QUALITY_SCHEMA = "image_id string, matched int, mean_iou double, iou50 double, iou75 double, delta_box_pct double"


def detection_quality(predictions_df):
    """Compare two prediction sides per image.

    Input: (image_id, side 'base'|'variant', label, bbox array<double>,
    score).  Output: one row per image with matched count, mean IoU,
    IoU@0.5 / @0.75 rates and box-count delta.
    """
    import pandas as pd

    def per_image(key, pdf):
        image_id = key[0]
        base = [
            {"label": r.label, "bbox": list(r.bbox)}
            for r in pdf[pdf["side"] == "base"].itertuples()
        ]
        variant = [
            {"label": r.label, "bbox": list(r.bbox)}
            for r in pdf[pdf["side"] == "variant"].itertuples()
        ]
        ious, delta = image_quality(base, variant)
        n = len(ious)
        return pd.DataFrame(
            {
                "image_id": [image_id],
                "matched": [n],
                "mean_iou": [sum(ious) / n if n else 1.0],
                "iou50": [sum(1 for i in ious if i >= 0.5) / n if n else 1.0],
                "iou75": [sum(1 for i in ious if i >= 0.75) / n if n else 1.0],
                "delta_box_pct": [delta],
            }
        )

    return predictions_df.groupBy("image_id").applyInPandas(
        per_image, schema=QUALITY_SCHEMA
    )


def quality_kpis(quality_df):
    """Corpus-level KPI rollup + the acceptance verdict column."""
    from pyspark.sql import functions as F

    agg = quality_df.agg(
        F.round(F.avg("mean_iou"), 6).alias("mean_iou"),
        F.round(F.avg("iou50"), 6).alias("iou50"),
        F.round(F.avg("delta_box_pct"), 6).alias("delta_box_pct"),
        F.sum("matched").cast("long").alias("matched"),
    )
    return agg.withColumn(
        "accepted",
        (F.col("iou50") >= IOU50_MIN)
        & (F.col("mean_iou") >= MEAN_IOU_MIN)
        & (F.abs(F.col("delta_box_pct")) <= DELTA_BOX_MAX_PCT),
    )
