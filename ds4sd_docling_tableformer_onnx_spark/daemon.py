"""The Python worker daemon: PySpark's own, minus the per-task zip re-read.

    python -m ds4sd_docling_tableformer_onnx_spark.daemon

``session.build_session`` names this module in
``spark.python.daemon.module``, so Spark starts it instead of
``pyspark.daemon``; it applies one patch and then runs
``pyspark.daemon.manager()`` unchanged.

At the start of every task the worker calls
``importlib.invalidate_caches()`` (``pyspark/worker_util.py``,
``setup_spark_files``).  On interpreters whose
``zipimport.zipimporter.invalidate_caches`` eagerly re-reads the
archive's central directory (3.10 to 3.12 do; 3.13 defers the read to
``zipimporter._get_files``), that call re-reads ``pyspark.zip``
once per cached zipimporter: about 16 importers of 1,328 entries each,
~0.22 s of core time per task on a 4-core box.  The patch makes that
method a no-op before any worker is forked, so only this daemon and its
workers carry it; the driver is untouched.

What stays correct: directory finders are still invalidated, and a zip
added later with ``addPyFile`` is a new ``sys.path`` entry that gets a
freshly read importer.  An archive rewritten in place under the same
path (``spark.files.overwrite``) keeps its old directory until the
worker exits.
"""

from __future__ import annotations

import zipimport


def keep_zip_directories():
    """Make ``zipimporter.invalidate_caches`` a no-op unless the
    interpreter already defers the re-read (``_get_files``, 3.13+)."""
    if not hasattr(zipimport.zipimporter, "_get_files"):
        zipimport.zipimporter.invalidate_caches = lambda self: None


if __name__ == "__main__":
    keep_zip_directories()

    from pyspark.daemon import manager

    manager()
