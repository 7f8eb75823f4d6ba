"""SparkSession factory with the engine's scale-oriented defaults.

The same configuration is used by tests (small core counts), the
benchmarks (perfbench on ``local[<nproc>]``; bench.py on this default
core count, and on a quarter of it for its scaling evidence) and —
unchanged — a real multi-executor cluster via ``spark-submit
--py-files``: everything here is partition-count / AQE tuning, nothing
is local-mode specific.

Two confs start the Python workers from the package's own daemon:

- ``spark.python.daemon.module`` names ``daemon.py``, which runs PySpark's
  daemon after making ``zipimporter.invalidate_caches`` a no-op, so a
  task no longer re-reads ``pyspark.zip``'s directory once per cached
  importer (~0.22 s of core time per Python task before it);
- ``spark.executorEnv.PYTHONPATH`` is the package's import root (the
  repo root, or the zip under ``spark-submit --py-files``).  The daemon
  is imported when the first Python task starts, before any task has
  added the ``--py-files`` zip to ``sys.path``; without this entry it
  fails with ``No module named 'ds4sd_docling_tableformer_onnx_spark'``.
  On a cluster whose executors see the zip under another path, set the
  key through ``extra_conf``.

``extra_conf`` overrides either key.
"""

from __future__ import annotations

import os

# the directory (or --py-files zip) that holds the package
IMPORT_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def build_session(
    app_name: str = "ds4sd-docling-tableformer-onnx-spark",
    cores: int | None = None,
    extra_conf: dict | None = None,
):
    from pyspark.sql import SparkSession

    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
    # one shuffle partition per core, at least 8; a real cluster would
    # size this to total executor cores (AQE coalesces the excess)
    shuffle_partitions = max(cores, 8)

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        # AQE: runtime coalescing + skew-join splitting (north_rule: heavy
        # conversations must not pin single tasks)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow is the vectorization backbone for every pandas UDF stage
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # keep parquet scans prunable
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # the target storage is object-store-backed Iceberg: no block
        # locality exists, so delay scheduling only wastes time (in
        # local mode it measurably idles ~50 ms/task waiting for a
        # better offer that cannot exist)
        .config("spark.locality.wait", "0s")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.python.daemon.module", f"{__package__}.daemon")
        .config("spark.executorEnv.PYTHONPATH", IMPORT_ROOT)
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    return builder.getOrCreate()
