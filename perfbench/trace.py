"""Spans recorded from outside the program.

- ``CoreTimers`` wraps the public functions of ``core/`` that
  ``core.pipeline.extract_turn`` calls, and ``extract_turn`` itself,
  with ``perf_counter_ns`` timers; ``replay`` runs the ``operators.extract``
  Arrow worker in-process under them.
- ``CheckpointSpans`` wraps the public functions of ``plans.checkpoint``.
- ``JobLabels`` sets the Spark job description around every DataFrame
  action, naming the workload and the call site outside PySpark, so the
  event log attributes each job.

Every wrapper is installed for the duration of a ``with`` block and
removed on exit.
"""

from __future__ import annotations

import os
import sys
import threading
import time
from contextlib import contextmanager
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

# layer -> (module, attribute) pairs, as extract_turn resolves them
CORE_LAYERS = {
    "decode": (("pipeline", "decode_prediction"),),
    "grid": (
        ("otsl", "is_square"),
        ("pipeline", "check_bbox_sync"),
        ("pipeline", "translate_bboxes"),
        ("pipeline", "build_table_cells"),
    ),
    "match": (
        ("pipeline", "normalize_pdf_cells"),
        ("pipeline", "intersection_over_pdf_match"),
    ),
    "postprocess": (("pipeline", "post_process"),),
    "response": (
        ("pipeline", "matched_response"),
        ("pipeline", "dummy_response"),
        ("pipeline", "merge_output"),
        ("pipeline", "dense_reindex"),
    ),
}


@contextmanager
def _patched(targets):
    """Replace ``(obj, name) -> wrapper`` attributes, restoring them on exit."""
    saved = [(obj, name, getattr(obj, name)) for (obj, name) in targets]
    try:
        for (obj, name), wrapper in targets.items():
            setattr(obj, name, wrapper)
        yield
    finally:
        for obj, name, original in saved:
            setattr(obj, name, original)


class CoreTimers:
    """Per-turn nanoseconds per core layer, and per ``extract_turn`` call.

    ``turns`` holds one ``(turn_ns, {layer: ns})`` per ``extract_turn``
    call, in call order."""

    def __init__(self):
        self.turns: list[tuple[int, dict]] = []
        self._current: dict | None = None

    def _layer(self, layer, fn):
        clock = time.perf_counter_ns

        def timed(*args, **kwargs):
            t0 = clock()
            try:
                return fn(*args, **kwargs)
            finally:
                if self._current is not None:
                    self._current[layer] += clock() - t0

        return timed

    def _turn(self, fn):
        clock = time.perf_counter_ns

        def timed(*args, **kwargs):
            self._current = dict.fromkeys(CORE_LAYERS, 0)
            t0 = clock()
            try:
                return fn(*args, **kwargs)
            finally:
                self.turns.append((clock() - t0, self._current))
                self._current = None

        return timed

    @contextmanager
    def installed(self):
        from ds4sd_docling_tableformer_onnx_spark.core import otsl, pipeline

        modules = {"pipeline": pipeline, "otsl": otsl}
        targets = {
            (modules[mod], name): self._layer(layer, getattr(modules[mod], name))
            for layer, pairs in CORE_LAYERS.items()
            for mod, name in pairs
        }
        targets[(pipeline, "extract_turn")] = self._turn(pipeline.extract_turn)
        with _patched(targets):
            yield self


def replay(batches) -> dict:
    """Run the ``operators.extract`` Arrow worker over ``batches`` on this
    core, under ``CoreTimers``.

    Returns the worker's span per output batch (ns), the output bytes,
    and the per-turn core timings."""
    from ds4sd_docling_tableformer_onnx_spark.operators.extract import _extract_batches

    timers = CoreTimers()
    batch_ns, rows, out_bytes = [], 0, 0
    with timers.installed():
        worker = _extract_batches(iter(batches), False)
        while True:
            t0 = time.perf_counter_ns()
            try:
                out = next(worker)
            except StopIteration:
                break
            batch_ns.append(time.perf_counter_ns() - t0)
            rows += out.num_rows
            out_bytes += out.nbytes
    return {"batch_ns": batch_ns, "rows": rows, "out_bytes": out_bytes, "turns": timers.turns}


class CheckpointSpans:
    """Inclusive in-process seconds per ``plans.checkpoint`` function,
    and the skipped-row counts ``resume_filter`` returned."""

    FUNCTIONS = ("resume_filter", "write_checkpoint", "read_checkpoint")

    def __init__(self):
        self.seconds = dict.fromkeys(self.FUNCTIONS, 0.0)
        self.skipped = 0

    def _span(self, name, fn):
        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                result = fn(*args, **kwargs)
            finally:
                self.seconds[name] += time.perf_counter() - t0
            if name == "resume_filter":
                self.skipped += result[1]
            return result

        return timed

    @contextmanager
    def installed(self, _prefix=None):
        """Spans for the block (``_prefix`` matches ``JobLabels.installed``)."""
        from ds4sd_docling_tableformer_onnx_spark.plans import checkpoint

        targets = {
            (checkpoint, name): self._span(name, getattr(checkpoint, name))
            for name in self.FUNCTIONS
        }
        with _patched(targets):
            yield self


def _call_site() -> str:
    """``path:line`` of the innermost frame outside PySpark and this file."""
    frame = sys._getframe(2)
    here = os.path.abspath(__file__)
    while frame is not None:
        path = os.path.abspath(frame.f_code.co_filename)
        if path != here and f"{os.sep}pyspark{os.sep}" not in path:
            try:
                path = str(Path(path).relative_to(ROOT))
            except ValueError:
                pass
            return f"{path}:{frame.f_lineno}"
        frame = frame.f_back
    return "?"


class JobLabels:
    """Labels every Spark job started inside ``installed(prefix)`` with
    ``<prefix>|<call site> <action>`` (or ``<prefix>`` for jobs Spark
    starts on its own, such as broadcasts)."""

    DATAFRAME_ACTIONS = (
        "collect", "count", "first", "head", "take", "tail", "toPandas",
        "toArrow", "toLocalIterator", "isEmpty", "foreach", "foreachPartition",
        "localCheckpoint", "checkpoint",
    )
    WRITER_ACTIONS = ("save", "parquet", "json", "csv", "orc", "saveAsTable", "insertInto")

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._depth = threading.local()

    def _labelled(self, prefix, action, fn):
        def labelled(*args, **kwargs):
            if getattr(self._depth, "n", 0):  # an action inside an action
                return fn(*args, **kwargs)
            self._depth.n = 1
            self.sc.setJobDescription(f"{prefix}|{_call_site()} {action}")
            try:
                return fn(*args, **kwargs)
            finally:
                self._depth.n = 0
                self.sc.setJobDescription(prefix)

        return labelled

    @contextmanager
    def installed(self, prefix: str):
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameWriter

        targets = {
            (cls, action): self._labelled(prefix, action, getattr(cls, action))
            for cls, actions in (
                (DataFrame, self.DATAFRAME_ACTIONS),
                (DataFrameWriter, self.WRITER_ACTIONS),
            )
            for action in actions
            if hasattr(cls, action)
        }
        self.sc.setJobDescription(prefix)
        try:
            with _patched(targets):
                yield self
        finally:
            self.sc.setJobDescription(None)
