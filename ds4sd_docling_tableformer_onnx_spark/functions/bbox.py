"""Bounding-box column expressions (SURVEY §2.8 F7-F8).

Columnar re-expressions of the reference's bbox scalar math
(tf_cell_matcher.py:56-81 intersection, utils.py:207-257 cxcywh/area/iou)
for use when cell geometry is held in DataFrame columns rather than
inside a batched UDF.  Boxes are 4-element
``array<double>`` columns ``[x1, y1, x2, y2]``.
"""

from __future__ import annotations


def _c(box, i):
    from pyspark.sql import functions as F

    return F.element_at(box, i + 1)


def area(box):
    return (_c(box, 2) - _c(box, 0)) * (_c(box, 3) - _c(box, 1))


def intersection_area(a, b):
    """Clamped overlap area of two boxes."""
    from pyspark.sql import functions as F

    width = F.greatest(
        F.least(_c(a, 2), _c(b, 2)) - F.greatest(_c(a, 0), _c(b, 0)), F.lit(0.0)
    )
    height = F.greatest(
        F.least(_c(a, 3), _c(b, 3)) - F.greatest(_c(a, 1), _c(b, 1)), F.lit(0.0)
    )
    return width * height


def iou(a, b):
    """Intersection over union; 0 when the union degenerates."""
    from pyspark.sql import functions as F

    inter = intersection_area(a, b)
    union = area(a) + area(b) - inter
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def iopdf(a, probe):
    """Intersection over probe-box area — the reference's match score
    (tf_cell_matcher.py:512-515)."""
    from pyspark.sql import functions as F

    probe_area = area(probe)
    return F.when(probe_area > 0, intersection_area(a, probe) / probe_area).otherwise(
        F.lit(0.0)
    )


def cxcywh_to_xyxy(box):
    """Center-format to corner-format (utils.py:207-210)."""
    from pyspark.sql import functions as F

    cx, cy, w, h = _c(box, 0), _c(box, 1), _c(box, 2), _c(box, 3)
    return F.array(cx - w / 2, cy - h / 2, cx + w / 2, cy + h / 2)
