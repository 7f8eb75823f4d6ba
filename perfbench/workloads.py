"""The workloads.

Each workload writes its seeded inputs under its work directory
(``prepare``) and then runs iterations: ``before`` (untimed: fresh
input and sink, restored checkpoint), ``run`` (timed: the call a user of
the system makes) and ``after`` (untimed: check every output row,
measure the sink, clean up).
Why each workload exists is in ``perfbench/NOTES.md``.
"""

from __future__ import annotations

import json
import shutil
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from perfbench import check, inputs

FULL_TURNS = 2000
FULL_DONE_SHARE = 0.1
FULL_CHANGED_SHARE = 0.01
VERIFY_TURNS = 2000
CURATE_DOCS = 400
CURATE_MAX_SEQ_LEN = 2048
# every curate stage that needs no extra input: the rule battery,
# substring dedup, the quality classifier, a per-source quota (3/4 of
# the even share, so it binds) and the duplicated-span filter
CURATE_OPTIONS = dict(
    rule_filter=True,
    strip_substrings=True,
    quality_filter=True,
    source_quota=CURATE_DOCS * 3 // (4 * inputs.N_SOURCES),
    max_dup_frac=0.5,
)
CHECK_COLUMNS = [
    "conv_id", "turn_idx", "payload_id", "ok", "html_sha256", "tf_responses_json",
    *check.CHECKED_FIELDS,
]


def sink_bytes(directory: Path, exclude=()) -> int:
    """Bytes of the data files under ``directory`` (not Spark's hidden
    ``.crc``/``_SUCCESS`` files), skipping names in ``exclude``."""
    return sum(
        p.stat().st_size
        for p in directory.rglob("*")
        if p.is_file() and p.name[0] not in "._" and p.name not in exclude
    )


def _keys(table: pa.Table) -> dict:
    return dict(
        zip(
            zip(table.column("conv_id").to_pylist(), table.column("turn_idx").to_pylist()),
            table.column("payload_id").to_pylist(),
        )
    )


class Workload:
    name = ""
    # input rows per iteration, and the rows the extraction worker
    # processes of them (0: no worker)
    rows = 0
    extracted_rows = 0
    # untimed iterations run as part of set-up (JIT, Python workers)
    warm_iterations = 2

    def __init__(self, seed: int, cores: int, work: Path):
        self.seed = seed
        self.cores = cores
        self.work = work / self.name
        self.iterations = 0

    def prepare(self):
        raise NotImplementedError

    def before(self, i: int):
        pass

    def run(self, spark, i: int):
        raise NotImplementedError

    def after(self, i: int, result) -> tuple[int, int]:
        """(failed input rows, sink bytes) of iteration ``i``."""
        raise NotImplementedError

    def replay_batches(self, max_rows: int) -> list:
        """Worker input batches for the traced replay: the workload's own
        input, or the pool's natural mix for a workload with none."""
        table = inputs.transcripts(self.seed, max_rows)
        return table.select(["conv_id", "turn_idx", "text", "tool"]).to_batches(2048)


def _run_checkpointed(spark, input_path: Path, ckpt: Path, run_id: str):
    """The ``jobs/extract_job.py`` call: resume-aware extraction into a
    parquet checkpoint, then the count of the rows this run appended."""
    from ds4sd_docling_tableformer_onnx_spark.plans.checkpoint import run_with_checkpoint

    new_rows, skipped = run_with_checkpoint(
        spark, spark.read.parquet(str(input_path)), str(ckpt), run_id=run_id
    )
    return skipped, new_rows.count()


class ExtractVerify(Workload):
    """Extraction verified against the pool, reduced to counts."""

    name = "extract_verify"
    rows = extracted_rows = VERIFY_TURNS

    def prepare(self):
        shutil.rmtree(self.work, ignore_errors=True)
        table = inputs.transcripts(self.seed, VERIFY_TURNS, inputs.NO_PDF_TEXT_KINDS)
        inputs.write_files(table, self.work / "in", self.cores)

    def _counts(self, spark, path):
        from pyspark.sql import functions as F

        from ds4sd_docling_tableformer_onnx_spark.operators.extract import (
            extract_transcripts,
            verify_against_pool,
        )
        from ds4sd_docling_tableformer_onnx_spark.sources.transcripts import payload_pool_df

        verified = verify_against_pool(
            extract_transcripts(spark.read.parquet(str(path))), payload_pool_df(spark)
        )
        expected = spark.createDataFrame(
            [(pid, *(e[f] for f in check.CHECKED_FIELDS)) for pid, e in inputs.expected_by_payload().items()],
            "payload_id int, " + ", ".join(f"exp_{f} int" for f in check.CHECKED_FIELDS),
        )
        mismatch = ~F.col("ok")
        for f in check.CHECKED_FIELDS:
            mismatch = mismatch | ~F.col(f).eqNullSafe(F.col(f"exp_{f}"))
        row = (
            verified.join(F.broadcast(expected), "payload_id", "left")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.when(F.col("html_match"), 1).otherwise(0)).alias("html_matched"),
                F.sum(F.when(mismatch, 1).otherwise(0)).alias("field_mismatches"),
                F.countDistinct("conv_id", "turn_idx").alias("distinct_turns"),
            )
            .first()
        )
        return {k: int(v or 0) for k, v in row.asDict().items()}

    def run(self, spark, i):
        return self._counts(spark, self.work / "in")

    def after(self, i, result):
        # the sink is this process: the count row it receives
        return check.verify_failures(result, VERIFY_TURNS), len(json.dumps(result))

    def replay_batches(self, max_rows):
        table = pq.read_table(self.work / "in", columns=["conv_id", "turn_idx", "text", "tool"])
        return table.slice(0, max_rows).to_batches(2048)


def _worker_rows_by_payload():
    """The extraction worker's own output row for every pool payload."""
    from ds4sd_docling_tableformer_onnx_spark.operators.extract import _extract_batches

    entries = inputs.pool()
    batch = pa.RecordBatch.from_pydict(
        {
            "conv_id": [""] * len(entries),
            "turn_idx": pa.array([0] * len(entries), pa.int32()),
            "text": [e["text"] for e in entries],
            "tool": [e["tool"] for e in entries],
        }
    )
    (out,) = list(_extract_batches(iter([batch]), False))
    return pa.Table.from_batches([out])


class ExtractFull(Workload):
    """A checkpointed extraction resuming from a checkpoint that holds a
    tenth of its turns; every turn it must run carries a unique payload."""

    name = "extract_full"
    rows = FULL_TURNS

    def _inputs(self, k=None):
        return inputs.resume_inputs(
            self.seed, FULL_TURNS, FULL_DONE_SHARE, FULL_CHANGED_SHARE,
            None if k is None else f"i{k}",
        )

    def prepare(self):
        shutil.rmtree(self.work, ignore_errors=True)
        table, done = self._inputs()
        # turns the run must extract: not checkpointed, or checkpointed
        # under another payload
        done_ids = _keys(done)
        self.new_keys = {k: p for k, p in _keys(table).items() if done_ids.get(k) != p}
        self.extracted_rows = len(self.new_keys)
        # the checkpoint a previous run left: the worker's output rows for
        # the done turns, with the lineage columns write_checkpoint adds
        rows = _worker_rows_by_payload().take(done.column("payload_id"))
        rows = rows.set_column(0, "conv_id", done.column("conv_id"))
        rows = rows.set_column(1, "turn_idx", done.column("turn_idx"))
        n = rows.num_rows
        rows = (
            rows.append_column("run_id", pa.array(["pristine"] * n))
            .append_column("stage", pa.array(["extract"] * n))
            .append_column(
                "partition_id", pa.array([k * self.cores // n for k in range(n)], pa.int32())
            )
        )
        self.pristine = inputs.write_files(rows, self.work / "pristine", self.cores)
        self.pristine_files = {p.name for p in self.pristine.iterdir()}

    def before(self, k):
        # fresh unique payloads for the turns that run, and the same
        # checkpoint to resume from, every iteration
        table, _ = self._inputs(k)
        inputs.write_files(table, self.work / f"in-{k}", self.cores)
        ckpt = self.work / "ckpt"
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.copytree(self.pristine, ckpt)

    def run(self, spark, k):
        return _run_checkpointed(spark, self.work / f"in-{k}", self.work / "ckpt", f"full-{k}")

    def after(self, k, result):
        skipped, n_new = result
        ckpt = self.work / "ckpt"
        out = pq.read_table(ckpt, columns=[*CHECK_COLUMNS, "payload_sha256", "run_id"])
        failed = check.resume_failures(
            FULL_TURNS, FULL_TURNS - len(self.new_keys), skipped, n_new,
            check.duplicate_checkpoint_keys(out),
        )
        new = out.filter(pc.equal(out.column("run_id"), f"full-{k}"))
        failed += check.extraction_failures(new, self.new_keys, inputs.expected_by_payload())
        shutil.rmtree(self.work / f"in-{k}")
        return failed, sink_bytes(ckpt, exclude=self.pristine_files)

    def replay_batches(self, max_rows):
        # the first rows of iteration 0's input
        table, _ = self._inputs(0)
        return table.select(["conv_id", "turn_idx", "text", "tool"]).slice(0, max_rows).to_batches(2048)


class CurateDocs(Workload):
    """Training-data curation of a documents table."""

    name = "curate_docs"
    rows = CURATE_DOCS
    # a curate job runs once per fresh JVM: its first call is measured
    warm_iterations = 0

    def prepare(self):
        shutil.rmtree(self.work, ignore_errors=True)
        self.docs = inputs.documents(self.seed, CURATE_DOCS)
        inputs.write_files(self.docs, self.work / "in", self.cores)

    def run(self, spark, i):
        from jobs.curate_job import curate

        out = self.work / f"out-{i}"
        packed, stats = curate(spark, spark.read.parquet(str(self.work / "in")), **CURATE_OPTIONS)
        packed.write.mode("overwrite").parquet(str(out))
        return stats

    def after(self, i, stats):
        out = self.work / f"out-{i}"
        failed = check.curation_failures(pq.read_table(out), stats, self.docs, CURATE_MAX_SEQ_LEN)
        size = sink_bytes(out)
        shutil.rmtree(out)
        return failed, size


WORKLOADS = {w.name: w for w in (ExtractFull, ExtractVerify, CurateDocs)}
