"""Spark-level extraction: end-to-end per-turn equality, stable
ordering, checkpoint resume."""

import pytest
from pyspark.sql import functions as F

from ds4sd_docling_tableformer_onnx_spark.operators.extract import (
    extract_transcripts,
    ordered_conversation_view,
    verify_against_pool,
)
from ds4sd_docling_tableformer_onnx_spark.plans.checkpoint import (
    partition_metrics,
    run_with_checkpoint,
)
from ds4sd_docling_tableformer_onnx_spark.sources.transcripts import (
    generate_transcripts,
    payload_pool_df,
)

N_TURNS = 600


@pytest.fixture(scope="module")
def extracted(spark):
    df = generate_transcripts(spark, n_turns=N_TURNS, n_convs=20, seed=7)
    out = verify_against_pool(extract_transcripts(df), payload_pool_df(spark))
    out.cache().count()
    return out


def test_every_turn_extracts_and_matches_reference(extracted):
    agg = extracted.agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("ok"), 1).otherwise(0)).alias("ok"),
        F.sum(F.when(F.col("html_match"), 1).otherwise(0)).alias("match"),
    ).first()
    assert agg["n"] == N_TURNS
    assert agg["ok"] == N_TURNS
    assert agg["match"] == N_TURNS  # per-turn text equality vs fixtures


def test_stable_turn_ordering(extracted):
    view = ordered_conversation_view(extracted)
    bad = view.where(F.col("turn_rank") != F.col("turn_idx") + 1).count()
    assert bad == 0  # rank under the window == generated turn order


def test_partition_metrics(extracted):
    metrics = partition_metrics(extracted).collect()
    assert sum(m["turns"] for m in metrics) == N_TURNS
    assert all(m["errors"] == 0 for m in metrics)


def test_malformed_payload_is_isolated(spark):
    rows = [
        ("c1", 0, "user", '{"broken', "{}", None),
        ("c1", 1, "user", '{"otsl": ["fcel", "nl"], "bboxes": [[0.1,0.1,0.9,0.9]], "classes": [2]}',
         '{"table_bbox": [0,0,10,10], "page_width": 10, "page_height": 10, "pdf_cells": []}', None),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    out = extract_transcripts(df).orderBy("turn_idx").collect()
    assert out[0]["ok"] is False and "JSONDecodeError" in out[0]["err"]
    assert out[1]["ok"] is True and out[1]["num_rows"] == 1


def test_repeated_payloads_match_the_per_row_worker(spark):
    """The Spark path runs the worker once per distinct payload in each
    Arrow batch; on repeated, null and malformed payloads every one of
    the 17 output columns equals the per-row worker's, row for row."""
    import pyarrow as pa

    from ds4sd_docling_tableformer_onnx_spark.operators.extract import (
        OUTPUT_COLUMNS,
        _extract_batches,
    )
    from ds4sd_docling_tableformer_onnx_spark.sources.fixtures import payload_pool

    pool = payload_pool()
    pairs = [(e["text"], e["tool"]) for e in pool[:6]] + [
        (None, "{}"), ('{"broken', "{}"), ("{}", None), ("{}", "{}"), (None, None),
    ]
    rows = [(f"c{i % 5}", i, *pairs[(i * 7) % len(pairs)]) for i in range(220)]
    rows += [(f"u{i}", i, e["text"], e["tool"]) for i, e in enumerate(pool[6:])]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string, tool string")

    got = [r.asDict() for r in extract_transcripts(df).orderBy("conv_id", "turn_idx").collect()]
    schema = pa.schema(
        [("conv_id", pa.string()), ("turn_idx", pa.int32()), ("text", pa.string()), ("tool", pa.string())]
    )
    batch = pa.RecordBatch.from_pylist([dict(zip(schema.names, row)) for row in rows], schema)
    (out,) = _extract_batches(iter([batch]), False)
    want = sorted(out.to_pylist(), key=lambda r: (r["conv_id"], r["turn_idx"]))
    names = [name for name, _, _ in OUTPUT_COLUMNS]
    assert len(got) == len(rows) and all(list(r) == names for r in got)
    assert got == want


# The worker's output contract, written out literally so that a change
# to the column table in operators/extract.py cannot pass unnoticed.
OUTPUT_DDL = (
    "conv_id string, turn_idx int, payload_id int, ok boolean, err string, "
    "num_rows int, num_cols int, n_cells int, n_matches int, "
    "bbox_sync boolean, square boolean, matched boolean, "
    "rs_seq array<string>, html_seq array<string>, "
    "html_sha256 string, tf_responses_json string, "
    "payload_sha256 string"
)


def test_output_schema_and_error_row_contract(spark):
    from pyspark.sql.types import StructType

    from ds4sd_docling_tableformer_onnx_spark.functions.keys import payload_key_py

    df = spark.createDataFrame(
        [("c1", 3, "user", '{"broken', "{}", None)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    out = extract_transcripts(df)
    assert out.schema == StructType.fromDDL(OUTPUT_DDL)

    (row,) = out.collect()
    err = row["err"]
    assert err.startswith("JSONDecodeError: ")
    assert row.asDict() == {
        "conv_id": "c1",
        "turn_idx": 3,
        "payload_id": -1,
        "ok": False,
        "err": err,
        "num_rows": 0,
        "num_cols": 0,
        "n_cells": 0,
        "n_matches": 0,
        "bbox_sync": False,
        "square": False,
        "matched": False,
        "rs_seq": [],
        "html_seq": [],
        "html_sha256": None,
        "tf_responses_json": "[]",
        "payload_sha256": payload_key_py('{"broken', "{}"),
    }


def test_unreadable_checkpoint_raises_before_appending(spark, tmp_path):
    """Only a missing checkpoint means "nothing done yet": a checkpoint
    whose part file cannot be read must fail the run before any turn is
    re-extracted and appended."""
    ckpt = tmp_path / "ckpt"
    ckpt.mkdir()
    bad = ckpt / "part-00000-unreadable.snappy.parquet"
    bad.write_bytes(b"not a parquet file")
    df = generate_transcripts(spark, n_turns=20, n_convs=2, seed=4)

    with pytest.raises(Exception, match="FAILED_READ_FILE"):
        run_with_checkpoint(spark, df, str(ckpt), run_id="r1")
    assert list(ckpt.iterdir()) == [bad]


def test_empty_checkpoint_directory_reads_as_no_checkpoint(spark, tmp_path):
    """An existing checkpoint directory with no data files holds nothing
    done: resume extracts every turn and skips none."""
    ckpt = tmp_path / "ckpt"
    ckpt.mkdir()
    df = generate_transcripts(spark, n_turns=20, n_convs=2, seed=4)

    new_rows, skipped = run_with_checkpoint(spark, df, str(ckpt), run_id="r1")
    assert skipped == 0
    assert new_rows.count() == 20


def test_declared_checkpoint_schema_is_the_written_one(spark, tmp_path):
    """The schema a parquet checkpoint is read with is built from the
    worker's and the lineage declarations; it must be exactly what a
    written checkpoint holds, so the declarations cannot drift from
    the reader."""
    from ds4sd_docling_tableformer_onnx_spark.plans.checkpoint import (
        checkpoint_schema,
        write_checkpoint,
    )

    path = str(tmp_path / "ckpt")
    df = generate_transcripts(spark, n_turns=10, n_convs=2, seed=2)
    write_checkpoint(extract_transcripts(df), path, run_id="r0", stage="extract")
    assert checkpoint_schema(spark) == spark.read.parquet(path).schema


def test_resumed_run_is_one_write_action(spark, tmp_path):
    """A resumed ``run_with_checkpoint`` and the count of its new rows
    run 4 Spark jobs: the checkpoint-key broadcast, the write (anti-join,
    worker and append in one job) and the count's two stages.  Neither
    ``skipped`` nor the checkpoint schema costs a job of its own."""
    source = str(tmp_path / "in")
    generate_transcripts(spark, n_turns=40, n_convs=4, seed=5).write.parquet(source)
    df = spark.read.parquet(source)
    path = str(tmp_path / "ckpt")
    first, _ = run_with_checkpoint(spark, df.where("turn_idx % 2 = 0"), path, run_id="r1")
    n_first = first.count()

    sc = spark.sparkContext
    sc.setJobGroup("resumed-run", "resumed run_with_checkpoint")
    try:
        new_rows, skipped = run_with_checkpoint(spark, df, path, run_id="r2")
        n_new = new_rows.count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert (skipped, n_new) == (n_first, 40 - n_first)
    assert len(sc.statusTracker().getJobIdsForGroup("resumed-run")) == 4


def test_run_id_with_quote_returns_its_own_rows(spark, tmp_path):
    path = str(tmp_path / "ckpt")
    df = generate_transcripts(spark, n_turns=40, n_convs=4, seed=11)
    first_half = df.where("turn_idx % 2 = 0")
    n_first = first_half.count()

    first, _ = run_with_checkpoint(spark, first_half, path, run_id="o'brien")
    assert first.count() == n_first
    second, skipped = run_with_checkpoint(spark, df, path, run_id="o'brien's rerun")
    assert skipped == n_first
    assert second.count() == 40 - n_first
    assert [r["run_id"] for r in second.select("run_id").distinct().collect()] == [
        "o'brien's rerun"
    ]


def test_checkpoint_resume_is_idempotent(spark, tmp_path):
    path = str(tmp_path / "ckpt")
    df = generate_transcripts(spark, n_turns=100, n_convs=5, seed=3)

    first, skipped1 = run_with_checkpoint(spark, df, path, run_id="r1")
    assert skipped1 == 0
    assert first.count() == 100

    # resume over the same input: everything is checkpointed, nothing re-runs
    second, skipped2 = run_with_checkpoint(spark, df, path, run_id="r2")
    assert skipped2 == 100
    assert second.count() == 0

    # lineage columns present
    ckpt = spark.read.parquet(path)
    assert {"run_id", "stage", "partition_id"} <= set(ckpt.columns)
    assert ckpt.where("run_id = 'r1'").count() == 100


def test_extraction_plan_is_shuffle_free(spark):
    df = generate_transcripts(spark, n_turns=50, n_convs=5, seed=1, shuffle=False)
    plan = extract_transcripts(df)._jdf.queryExecution().executedPlan().toString()
    # the generator's own window needs one exchange; the extraction stage
    # itself must not add another on top of it
    assert plan.count("Exchange") <= 2


def test_partial_resume_extracts_only_missing_turns(spark, tmp_path):
    """Idempotent resume after a partial run: checkpoint half the corpus,
    resume over the full corpus -> only the missing half runs, the union
    is complete and duplicate-free, and a changed payload re-runs."""
    from pyspark.sql import functions as F

    from ds4sd_docling_tableformer_onnx_spark.plans.checkpoint import (
        run_with_checkpoint,
    )

    path = str(tmp_path / "ckpt")
    df = generate_transcripts(spark, n_turns=100, n_convs=5, seed=9)

    # simulated crash: only the first half was checkpointed
    first_half = df.where("turn_idx % 2 = 0")
    n_first = first_half.count()
    _, skipped0 = run_with_checkpoint(spark, first_half, path, run_id="r1")
    assert skipped0 == 0

    new_rows, skipped1 = run_with_checkpoint(spark, df, path, run_id="r2")
    assert skipped1 == n_first
    assert new_rows.count() == 100 - n_first
    assert new_rows.where("turn_idx % 2 = 0").count() == 0

    ckpt = spark.read.parquet(path)
    assert ckpt.count() == 100
    assert ckpt.select("conv_id", "turn_idx").distinct().count() == 100

    # a changed payload (different sha) is NOT considered done
    mutated = df.withColumn(
        "text", F.when(F.col("turn_idx") == 1, F.lit('{"broken": true}')).otherwise(F.col("text"))
    )
    _, skipped2 = run_with_checkpoint(spark, mutated, path, run_id="r3")
    n_mutated = df.where("turn_idx = 1").count()
    assert skipped2 == 100 - n_mutated


def test_null_payloads_are_isolated_error_rows(spark):
    """A NULL text/tool must become one error row (per-turn isolation),
    never a task crash — and its payload hash must still equal the
    JVM-side shared injective key the resume filter computes."""
    import datetime

    from ds4sd_docling_tableformer_onnx_spark.functions.keys import (
        payload_key_col,
        payload_key_py,
    )

    ts = datetime.datetime(2026, 1, 1)
    good = (
        '{"otsl": ["fcel","nl"], "bboxes": [], "classes": [], '
        '"table_bbox": [0,0,1,1]}'
    )
    df = spark.createDataFrame(
        [
            ("c1", 0, "x", None, None, ts),
            ("c1", 1, "x", good, "{}", ts),
            ("c1", 2, "x", None, "{}", ts),
        ],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    rows = {r["turn_idx"]: r for r in extract_transcripts(df).collect()}
    assert not rows[0]["ok"] and not rows[2]["ok"] and rows[1]["ok"]
    assert "TypeError" in rows[0]["err"]

    jvm = {
        r["turn_idx"]: r["sha"]
        for r in df.select(
            "turn_idx", payload_key_col("text", "tool").alias("sha")
        ).collect()
    }
    py = {
        r["turn_idx"]: payload_key_py(r["text"], r["tool"])
        for r in df.collect()
    }
    for i in (0, 1, 2):
        assert rows[i]["payload_sha256"] == jvm[i] == py[i]


def test_resume_filter_distinguishes_concat_colliding_payloads(spark, tmp_path):
    """Adversarial resume: a checkpoint holding (text=T+'\\x00'+O,
    tool=NULL) must NOT cause (text=T, tool=O) on the same turn to be
    skipped — the old concat_ws key collided exactly here; the shared
    injective key keeps them apart, so the changed payload re-runs."""
    from ds4sd_docling_tableformer_onnx_spark.plans.checkpoint import (
        run_with_checkpoint,
    )
    from ds4sd_docling_tableformer_onnx_spark.sources.fixtures import payload_pool

    entry = next(e for e in payload_pool() if e["kind"] == "prediction")
    text, tool = entry["text"], entry["tool"]
    schema = (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    )
    path = str(tmp_path / "ckpt")

    first = spark.createDataFrame(
        [("c1", 0, "user", text + "\x00" + tool, None, None)], schema
    )
    _, skipped0 = run_with_checkpoint(spark, first, path, run_id="r1")
    assert skipped0 == 0

    # same (conv_id, turn_idx), colliding-under-concat_ws payload: must re-run
    changed = spark.createDataFrame([("c1", 0, "user", text, tool, None)], schema)
    new_rows, skipped1 = run_with_checkpoint(spark, changed, path, run_id="r2")
    assert skipped1 == 0
    assert new_rows.count() == 1
    assert new_rows.first()["ok"] is True  # the real payload extracted

    # and the true re-submission of the SAME payload is skipped
    _, skipped2 = run_with_checkpoint(spark, changed, path, run_id="r3")
    assert skipped2 == 1


def test_resume_filter_ignores_duplicate_checkpoint_keys(spark, tmp_path):
    """A checkpoint that holds each done key twice skips the same turns
    and yields the same new rows as one that holds it once: the semi and
    anti joins need no dedup of the checkpoint side."""
    from ds4sd_docling_tableformer_onnx_spark.plans.checkpoint import write_checkpoint

    df = generate_transcripts(spark, n_turns=120, n_convs=6, seed=11)
    done = extract_transcripts(df.where(F.col("turn_idx") < 4))
    once, twice = str(tmp_path / "once"), str(tmp_path / "twice")
    write_checkpoint(done, once, run_id="r0", stage="extract")
    for _ in range(2):
        write_checkpoint(done, twice, run_id="r0", stage="extract")

    results = []
    for path in (once, twice):
        new_rows, skipped = run_with_checkpoint(spark, df, path, run_id="r1")
        rows = sorted(
            (r["conv_id"], r["turn_idx"], r["html_sha256"])
            for r in new_rows.collect()
        )
        results.append((skipped, rows))
    assert results[0] == results[1]
    skipped, rows = results[0]
    assert skipped == done.count() > 0
    assert len(rows) == 120 - skipped
