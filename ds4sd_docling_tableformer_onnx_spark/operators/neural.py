"""Neural-stage scaffolding: page image -> model-input tensor (P1-P3)
with executor-cached artifacts (S5), plus the deterministic surrogate
decoder hook (D1-D3).

The reference loads model weights once per process under an init lock
(tf_predictor.py:40,176-216); the Spark equivalent is a module-level
lazy singleton inside the UDF — one initialization per executor python
worker, reused across all Arrow batches.  The actual TableFormer weights
are not shipped in this environment, so the "model" here is the
deterministic surrogate (``core.decoder``); a real ONNX session drops
into ``_Artifacts.predictor`` without touching the Spark plumbing.

Both stages are narrow mapInArrow stages on the row worker
(functions/rows.py): a column declaration plus a row function, with a
bad image isolated as one ``ok=False`` row.
"""

from __future__ import annotations

from typing import Iterator

import pyarrow as pa

from ..functions.rows import map_rows, row_batches, spark_schema

_IMAGE_INPUTS = ("image", "height", "width", "table_bbox")
TENSOR_COLUMNS = (
    ("item_id", pa.int64(), None),
    ("ok", pa.bool_(), False),
    ("err", pa.string(), None),
    ("scale_factor", pa.float64(), 0.0),
    ("rounded_bbox", pa.list_(pa.int32()), []),
    ("crop_sha256", pa.string(), None),
    ("tensor_sha256", pa.string(), None),
    ("tensor_mean", pa.float64(), 0.0),
    ("tensor_std", pa.float64(), 0.0),
    ("tensor_min", pa.float64(), 0.0),
    ("tensor_max", pa.float64(), 0.0),
)
DECODE_COLUMNS = (
    ("item_id", pa.int64(), None),
    ("ok", pa.bool_(), False),
    ("err", pa.string(), None),
    ("tag_seq", pa.list_(pa.int32()), []),
    ("n_boxes", pa.int32(), 0),
    ("classes", pa.list_(pa.int32()), []),
)


class _Artifacts:
    """Per-executor lazy singleton (the broadcast-weights pattern).

    The live neural stage sits behind ``get_predictor()``, loaded (and
    cached) only when a decode stage actually asks for it — stages that
    never decode (tensor prep, feature extraction) must not couple to
    decoder availability, so construction itself never touches the
    SPARK_GRAFT_ONNX_DIR gate."""

    _instance = None

    def __init__(self):
        from ..config import WORD_MAP_TAG

        self.mean = [0.94247851, 0.94254675, 0.94292611]
        self.std = [0.17910956, 0.17940403, 0.17931663]
        self.word_map = WORD_MAP_TAG
        self._predictor = None

    def get_predictor(self):
        """The config-gated live ONNX decoder (operators/realmodel.py;
        reference lifecycle tf_predictor.py:705-843), one load per
        python worker.  Raises NotImplementedError when the gate is
        unset or the runtime/graphs are absent."""
        if self._predictor is None:
            from .realmodel import load_onnx_decoder

            self._predictor = load_onnx_decoder()
        return self._predictor

    @classmethod
    def get(cls):
        if cls._instance is None:
            cls._instance = cls()
        return cls._instance


def _prepared(payload, height, width, bbox):
    """P1-P3 for one table: the image bytes as an HxWx3 page, cropped,
    resized and normalized (core/imaging.py)."""
    import numpy as np

    from ..core.imaging import prepare_table_tensor

    artifacts = _Artifacts.get()  # once per worker, reused per row
    img = np.frombuffer(bytes(payload), dtype=np.uint8).reshape(int(height), int(width), 3)
    return prepare_table_tensor(img, list(bbox), artifacts.mean, artifacts.std)


def _tensor_row(payload, height, width, bbox):
    import hashlib

    out = _prepared(payload, height, width, bbox)
    tensor = out["tensor"]
    return (
        True,
        None,
        float(out["scale_factor"]),
        list(out["rounded_bbox"]),
        hashlib.sha256(out["crop"].tobytes()).hexdigest(),
        hashlib.sha256(tensor.tobytes()).hexdigest(),
        float(tensor.mean()),
        float(tensor.std()),
        float(tensor.min()),
        float(tensor.max()),
    )


def prepare_tensors(df):
    """(item_id, image binary, height, width, table_bbox array<double>)
    -> tensor metadata.  Narrow mapInArrow stage; on a cluster the image
    bytes come from `spark.read.format("binaryFile")` or an Iceberg blob
    column (S1), and partition byte sizing keeps blobs in memory."""
    pruned = df.select("item_id", *_IMAGE_INPUTS)
    return map_rows(pruned, ("item_id",), _IMAGE_INPUTS, TENSOR_COLUMNS, _tensor_row)


def _decode_batches(batches: Iterator, predict_fn):
    """The predictor is resolved once per task, outside the per-row
    isolation: a missing model fails the task, it is not a data error."""
    predict = predict_fn or _Artifacts.get().get_predictor()

    def decode_row(payload, height, width, bbox):
        decoded = predict(_prepared(payload, height, width, bbox)["tensor"])
        return (
            True,
            None,
            [int(t) for t in decoded["tag_seq"]],
            len(decoded["bboxes"]),
            [int(c) for c in decoded["classes"]],
        )

    return row_batches(batches, ("item_id",), _IMAGE_INPUTS, DECODE_COLUMNS, decode_row)


def decode_tables(df, predict_fn=None):
    """(item_id, image binary, height, width, table_bbox) -> live tag
    decode per table: P1-P3 tensor preparation feeding the neural stage
    — the config-gated onnxruntime greedy decoder by default
    (``_Artifacts.get_predictor``), or an injected ``predict_fn(tensor)
    -> {tag_seq, bboxes, classes}`` (the deterministic surrogate in
    tests).  One narrow mapInArrow stage; model sessions initialize
    once per python worker."""
    pruned = df.select("item_id", *_IMAGE_INPUTS)
    return pruned.mapInArrow(
        lambda it: _decode_batches(it, predict_fn), schema=spark_schema(DECODE_COLUMNS)
    )


def read_image_directory(spark, path: str):
    """S1: directory scan of the ``*.png`` images under ``path`` as
    binary payloads (run_tableformer_docling.py:42-48 re-expressed on
    the binaryFile source; decode happens inside the row worker)."""
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.png")
        .load(path)
        .select("path", "content", "length")
    )
