"""Streaming operators: the extraction stream's exactly-once crash
replay, and the stateful near-dup stream against its batch form."""

import pytest

from ds4sd_docling_tableformer_onnx_spark.operators.extract import extract_transcripts

from ds4sd_docling_tableformer_onnx_spark.sources.transcripts import generate_transcripts


def test_crash_midbatch_replay_is_exactly_once(spark, tmp_path):
    """North-rule idempotence, streaming side: a job that dies AFTER a
    micro-batch's side effects land but BEFORE its offsets commit must,
    on restart from the same checkpoint, replay that batch without
    duplicating output.  The sink is the checkpoint-table discipline the
    batch side proves (plans/checkpoint.py): append guarded by an
    anti-join on (conv_id, turn_idx, payload_sha256)."""
    from pyspark.errors import StreamingQueryException

    from ds4sd_docling_tableformer_onnx_spark.plans.checkpoint import (
        CHECKPOINT_KEYS,
    )
    from ds4sd_docling_tableformer_onnx_spark.streaming.stream import stream_extract

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    df = generate_transcripts(spark, n_turns=120, n_convs=6, seed=11)
    # 24 input files / maxFilesPerTrigger=8 -> >= 3 micro-batches, so
    # batch_id 1 exists to crash in and later batches remain unprocessed
    df.repartition(24).write.parquet(str(in_dir / "batch"))

    crash = {"armed": True, "batches_before_crash": [], "batches_after": []}

    def idempotent_sink(batch_df, batch_id):
        s = batch_df.sparkSession
        try:
            done = s.read.parquet(out_dir).select(*CHECKPOINT_KEYS).dropDuplicates()
            fresh = batch_df.join(done, list(CHECKPOINT_KEYS), "left_anti")
        except Exception:
            fresh = batch_df
        fresh.write.mode("append").parquet(out_dir)
        if crash["armed"]:
            crash["batches_before_crash"].append(batch_id)
            if batch_id >= 1:
                # side effects are on disk; offsets for this batch never
                # commit -> the restart MUST replay it
                raise RuntimeError("injected crash after side effects")
        else:
            crash["batches_after"].append(batch_id)

    def start():
        return (
            stream_extract(spark, str(in_dir) + "/*")
            .writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .foreachBatch(idempotent_sink)
            .trigger(availableNow=True)
            .start()
        )

    query = start()
    with pytest.raises(StreamingQueryException, match="injected crash"):
        query.awaitTermination()

    written_at_crash = spark.read.parquet(out_dir).count()
    assert 0 < written_at_crash < 120  # died mid-stream, partial output on disk

    crash["armed"] = False
    start().awaitTermination()  # resume from the same checkpoint

    out = spark.read.parquet(out_dir)
    assert out.count() == 120
    assert out.select("conv_id", "turn_idx").distinct().count() == 120  # no dupes
    # the crashed batch really was replayed (exactly-once came from the
    # idempotent sink, not from the batch never re-running)
    assert min(crash["batches_after"]) <= max(crash["batches_before_crash"])
    # and the replayed content matches the batch path bit-for-bit
    batch_out = extract_transcripts(spark.read.parquet(str(in_dir) + "/*"))
    s = {(r["conv_id"], r["turn_idx"]): r["html_sha256"] for r in out.collect()}
    b = {(r["conv_id"], r["turn_idx"]): r["html_sha256"] for r in batch_out.collect()}
    assert s == b


def test_stream_neardup_matches_batch_candidates(spark, tmp_path):
    """Streaming simhash near-dup candidates == the batch
    band self-join output, row for row, with the corpus
    split across micro-batches (cross-batch bucket state exercised)."""
    from ds4sd_docling_tableformer_onnx_spark.operators.dedup import (
        simhash_candidates,
        simhash_column,
    )
    from ds4sd_docling_tableformer_onnx_spark.streaming.neardup import (
        stream_neardup_candidates,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )

    batch = simhash_candidates(simhash_column(docs), id_col="doc_id")
    expected = {
        (r["id_a"], r["id_b"], r["hamming"]) for r in batch.collect()
    }
    assert expected  # the corpus has near-dup clusters; empty would be vacuous

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    docs.where("doc_id % 2 = 0").write.parquet(str(in_dir / "b1"))
    docs.where("doc_id % 2 = 1").write.parquet(str(in_dir / "b2"))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir) + "/*")
    )
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    query = (
        stream_neardup_candidates(stream)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()

    streamed = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in spark.read.parquet(out_dir).collect()
    }
    assert streamed == expected


def test_stream_neardup_state_cap_bounds_and_counts(spark, tmp_path):
    """An adversarial flood (identical docs -> one bucket) stays
    bounded: stored rows never exceed max_state_rows, later arrivals
    still emit pairs against the stored members, and drops are
    counted, not silent."""
    from ds4sd_docling_tableformer_onnx_spark.streaming.neardup import (
        _make_update,
    )

    import pandas as pd

    class FakeState:
        exists = False

        def update(self, v):
            self.exists, self._v = True, v

        @property
        def get(self):
            return self._v

    update = _make_update(max_state_rows=5)
    state = FakeState()
    pdf = pd.DataFrame(
        {"doc_id": range(20), "simhash": [7] * 20, "band": 0, "band_key": 7}
    )
    out = list(update((0, 7), [pdf], state))
    ids, sigs, dropped = state.get
    assert len(ids) == 5 and dropped == 15
    pairs = pd.concat(out)
    # stored members pair among themselves (C(5,2)) and each of the 15
    # overflow arrivals pairs against the 5 stored rows
    assert len(pairs) == 10 + 15 * 5
    assert (pairs["hamming"] == 0).all()
