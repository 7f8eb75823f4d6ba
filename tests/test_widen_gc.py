"""Focused tests for the r6 second-pass internals: the byte-proportional
scan widening rule (queries._widen) and the cyclic-GC suspension helper
(functions/gcctl.suspended_gc), on a toy generator and on the real
extraction row worker."""

import gc
import inspect
import os

from ds4sd_docling_tableformer_onnx_spark.functions.gcctl import suspended_gc
from ds4sd_docling_tableformer_onnx_spark.queries import _read, _widen

SF = "/root/testdata/sf0.01"


def test_widen_is_byte_proportional_and_capped(spark):
    docs = _read(spark, SF, "documents")  # ~65 KB single-row-group file
    parallelism = spark.sparkContext.defaultParallelism

    # default bytes_per_part: one partition per that many scan bytes
    # (56 KB: a 65 KB scan widens to 2), capped at parallelism
    per_part = inspect.signature(_widen).parameters["bytes_per_part"].default
    scan_bytes = os.path.getsize(os.path.join(SF, "documents.parquet"))
    expected = min(parallelism, -(-scan_bytes // per_part))
    assert _widen(docs).rdd.getNumPartitions() == expected

    # a coarser bytes_per_part than the file leaves the scan untouched
    assert _widen(docs, bytes_per_part=1 << 20) is docs

    # a fine-grained rule caps at session parallelism
    assert (
        _widen(docs, bytes_per_part=1024).rdd.getNumPartitions() == parallelism
    )


def test_widen_noop_when_scan_already_wide(spark):
    docs = _read(spark, SF, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    # >= parallelism partitions: returned untouched (the corpus-scale
    # no-op path)
    assert _widen(docs) is docs


def test_suspended_gc_restores_state():
    assert gc.isenabled()
    with suspended_gc():
        assert not gc.isenabled()
    assert gc.isenabled()

    # nested / already-disabled: never force-enables
    gc.disable()
    try:
        with suspended_gc():
            assert not gc.isenabled()
        assert not gc.isenabled()
    finally:
        gc.enable()


def _toy_generator():
    def worker(it):
        with suspended_gc():
            yield from it

    return worker(iter(range(3)))


def _pool_batches():
    """Two batches of fixture-pool turns, each repeating one payload."""
    import pyarrow as pa

    from ds4sd_docling_tableformer_onnx_spark.sources.fixtures import payload_pool

    pool = [e for e in payload_pool()[:2] for _ in range(2)]
    batch = pa.RecordBatch.from_pydict(
        {
            "conv_id": [f"c{i}" for i in range(len(pool))],
            "turn_idx": pa.array(range(len(pool)), pa.int32()),
            "text": [e["text"] for e in pool],
            "tool": [e["tool"] for e in pool],
        }
    )
    return iter([batch.slice(0, 2), batch.slice(2)])


def _extract_worker():
    """The real row worker over two batches of fixture-pool turns."""
    from ds4sd_docling_tableformer_onnx_spark.operators.extract import _extract_batches

    return _extract_batches(_pool_batches(), False)


def _distinct_worker():
    """The Spark path's wrapper, which runs the row worker once per
    distinct payload in each batch and must close it when closed."""
    from ds4sd_docling_tableformer_onnx_spark.operators.extract import _distinct_payloads

    return _distinct_payloads(_pool_batches())


def test_suspended_gc_restores_on_generator_close():
    for make_worker in (_toy_generator, _extract_worker, _distinct_worker):
        g = make_worker()
        next(g)
        assert not gc.isenabled(), make_worker  # suspended while the task generator runs
        g.close()  # Spark closing the iterator mid-stream
        assert gc.isenabled(), make_worker

