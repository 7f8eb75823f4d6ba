"""The package's Python worker daemon (daemon.py): a task's
``importlib.invalidate_caches()`` no longer re-reads zip archives, and a
zip shipped after the workers started is still importable."""

import zipfile


def _zip_reads_on_invalidate(_):
    import importlib
    import zipimport

    calls = [0]
    read = zipimport._read_directory

    def counting(archive):
        calls[0] += 1
        return read(archive)

    zipimport._read_directory = counting
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = read
    yield calls[0]


def test_worker_invalidate_caches_reads_no_zip(spark):
    sc = spark.sparkContext
    reads = sc.parallelize([0], 1).mapPartitions(_zip_reads_on_invalidate).collect()
    assert reads == [0]


def test_zip_added_after_start_is_importable(spark, tmp_path):
    import uuid

    sc = spark.sparkContext
    sc.parallelize([0], 1).count()  # the daemon and a worker are up
    name = f"late_module_{uuid.uuid4().hex}"
    archive = tmp_path / f"{name}.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr(f"{name}.py", "VALUE = 'late'\n")
    sc.addPyFile(str(archive))

    def load(_):
        import importlib

        yield importlib.import_module(name).VALUE

    assert sc.parallelize([0], 1).mapPartitions(load).collect() == ["late"]
