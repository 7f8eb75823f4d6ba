"""Tests of the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
from pathlib import Path

import pyarrow as pa
import pytest

from perfbench import check, eventlog, inputs, procstat, trace

DATA = Path(__file__).parent / "data"


# -- event log ---------------------------------------------------------------


def test_eventlog_attributes_tasks_to_described_jobs():
    log = eventlog.EventLog(DATA / "events_1_local-small")
    jobs = log.select("bench:extract")
    assert sorted(jobs) == [6, 7, 8]
    t = log.total(jobs)
    assert (t.jobs, t.stages, t.tasks) == (3, 3, 6)
    assert t.executor_run_s == pytest.approx(15.957)
    assert t.jvm_gc_s == pytest.approx(0.116)
    assert t.sink_bytes == 434_996
    assert sorted(t.task_s) == [0.032, 0.101, 4.01, 4.035, 4.158, 4.205]
    # the job submitted without a description is not selected
    assert log.jobs[0].description is None and 0 not in jobs


def test_eventlog_python_worker_metrics_use_plan_units():
    t = eventlog.EventLog(DATA / "events_1_local-small").total([6, 7, 8])
    # "timing" SQL metrics are milliseconds, "size" metrics bytes
    assert t.python_start_s == pytest.approx(5.31)
    assert t.python_init_s == pytest.approx(2.408)
    assert t.python_run_s == pytest.approx(13.388)
    assert t.to_python_bytes == 11_460_656
    assert t.from_python_bytes == 38_855_512


def test_eventlog_reads_rolling_log_directory(tmp_path):
    lines = (DATA / "events_1_local-small").read_text().splitlines(keepends=True)
    (tmp_path / "events_2_app").write_text("".join(lines[len(lines) // 2 :]))
    (tmp_path / "events_1_app").write_text("".join(lines[: len(lines) // 2]))
    (tmp_path / "appstatus_app").write_text("")
    split = eventlog.EventLog(tmp_path)
    whole = eventlog.EventLog(DATA / "events_1_local-small")
    assert vars(split.total([6, 7, 8])) == vars(whole.total([6, 7, 8]))


def test_quantile_nearest_rank():
    assert eventlog.quantile([], 0.5) == 0.0
    assert eventlog.quantile([3, 1, 2], 0.5) == 2
    assert eventlog.quantile(list(range(1, 101)), 0.99) == 99
    assert eventlog.quantile(list(range(1, 101)), 0.9) == 90


# -- correctness checks ------------------------------------------------------


def _output(keys):
    """Output rows exactly as the fixtures expect for ``keys``."""
    expected = inputs.expected_by_payload()
    rows = []
    for (conv_id, turn_idx), pid in keys.items():
        e = expected[pid]
        entry = inputs.pool()[pid]
        rows.append(
            {
                "conv_id": conv_id,
                "turn_idx": turn_idx,
                "payload_id": pid,
                "ok": True,
                "html_sha256": e["html_sha256"],
                "tf_responses_json": entry["expected_tf_json"],
                **{f: e[f] for f in check.CHECKED_FIELDS},
                "payload_sha256": f"key-{conv_id}-{turn_idx}",
            }
        )
    return rows


@pytest.fixture
def keys():
    return {(f"c{i // 4}", i % 4): i % len(inputs.pool()) for i in range(12)}


def test_extraction_check_passes_expected_rows(keys):
    out = pa.Table.from_pylist(_output(keys))
    assert check.extraction_failures(out, keys, inputs.expected_by_payload()) == 0


@pytest.mark.parametrize(
    "plant",
    [
        lambda rows: rows[3].update(html_sha256="0" * 64),  # wrong digest
        lambda rows: rows[3].update(tf_responses_json="[]"),  # wrong response
        lambda rows: rows[3].update(ok=False),  # error row
        lambda rows: rows[3].update(n_matches=rows[3]["n_matches"] + 1),
        lambda rows: rows.append(dict(rows[3])),  # duplicated row
        lambda rows: rows.pop(3),  # missing row
        lambda rows: rows.append({**rows[3], "conv_id": "stray"}),  # unknown row
    ],
)
def test_extraction_check_flags_one_planted_fault(keys, plant):
    rows = _output(keys)
    plant(rows)
    out = pa.Table.from_pylist(rows)
    assert check.extraction_failures(out, keys, inputs.expected_by_payload()) == 1


def test_duplicate_checkpoint_row_is_flagged(keys):
    rows = _output(keys)
    assert check.duplicate_checkpoint_keys(pa.Table.from_pylist(rows)) == 0
    rows.append(dict(rows[5]))
    assert check.duplicate_checkpoint_keys(pa.Table.from_pylist(rows)) == 1
    # the same turn under another payload key is a re-run, not a duplicate
    rows[-1]["payload_sha256"] = "changed"
    assert check.duplicate_checkpoint_keys(pa.Table.from_pylist(rows)) == 0


def test_resume_and_verify_accounting():
    assert check.resume_failures(100, 89, 89, 11, 0) == 0
    assert check.resume_failures(100, 89, 90, 11, 0) == 2  # over-skipped
    assert check.resume_failures(100, 89, 89, 11, 3) == 3
    good = {"n": 50, "html_matched": 50, "field_mismatches": 0, "distinct_turns": 50}
    assert check.verify_failures(good, 50) == 0
    assert check.verify_failures({**good, "html_matched": 48}, 50) == 2
    assert check.verify_failures({**good, "n": 51, "html_matched": 51}, 50) == 1


def _packed(docs, max_seq_len):
    rows, before = [], 0
    for d in docs.to_pylist():
        n = len(d["text"].split(" "))
        start, offset = divmod(before, max_seq_len)
        rows.append(
            {
                "doc_id": d["doc_id"], "source": d["source"], "lang": d["lang"],
                "n_tokens": n, "group_id": d["doc_id"], "group_size": 1,
                "start_seq": start, "offset_in_seq": offset,
                "spans": (before + n - 1) // max_seq_len - start + 1,
            }
        )
        before += n
    return rows, {"survivors_sampled": len(rows), "total_tokens": before}


def test_curation_check_recomputes_packing():
    docs = inputs.documents(7, 40)
    rows, stats = _packed(docs, 64)
    assert check.curation_failures(pa.Table.from_pylist(rows), stats, docs, 64) == 0
    rows[10]["offset_in_seq"] += 1
    assert check.curation_failures(pa.Table.from_pylist(rows), stats, docs, 64) == 1
    rows, stats = _packed(docs, 64)
    assert check.curation_failures(pa.Table.from_pylist(rows), {**stats, "total_tokens": 1}, docs, 64) == 1
    rows[4]["group_id"] = rows[3]["doc_id"]  # not its group's canonical id
    assert check.curation_failures(pa.Table.from_pylist(rows), stats, docs, 64) == 1


# -- inputs ------------------------------------------------------------------


def test_expectations_match_the_engine_on_every_pool_payload():
    from ds4sd_docling_tableformer_onnx_spark.core.pipeline import extract_turn

    for entry in inputs.pool():
        payload = json.loads(entry["text"])
        payload.update(json.loads(inputs.with_nonce(entry["tool"], "n-1")))
        out = extract_turn(payload)
        exp = inputs.expected_by_payload()[entry["payload_id"]]
        assert inputs._sha(json.dumps(out["html_seq"])) == exp["html_sha256"]
        assert inputs._sha(json.dumps(out["tf_responses"])) == exp["tf_sha256"]
        assert {f: out[f] for f in check.CHECKED_FIELDS} == {f: exp[f] for f in check.CHECKED_FIELDS}


def test_generators_are_seeded():
    assert inputs.transcripts(3, 50).equals(inputs.transcripts(3, 50))
    assert not inputs.transcripts(3, 50).equals(inputs.transcripts(4, 50))
    assert inputs.documents(3, 50).equals(inputs.documents(3, 50))
    unique = inputs.transcripts(3, 200, nonce_tag="i0")
    assert len(set(unique.column("tool").to_pylist())) == 200
    kinds = {inputs.kind_of(p) for p in inputs.transcripts(3, 200, inputs.NO_PDF_TEXT_KINDS).column("payload_id").to_pylist()}
    assert kinds == set(inputs.NO_PDF_TEXT_KINDS)


def test_resume_inputs_account_for_changed_payloads():
    table, done = inputs.resume_inputs(5, 1000, 0.9, 0.01)
    assert done.num_rows == 900
    ids = dict(zip(zip(table["conv_id"].to_pylist(), table["turn_idx"].to_pylist()), table["payload_id"].to_pylist()))
    changed = [
        k for k, p in zip(zip(done["conv_id"].to_pylist(), done["turn_idx"].to_pylist()), done["payload_id"].to_pylist())
        if ids[k] != p
    ]
    assert len(changed) == 10
    # with a nonce tag, exactly the turns that must run carry new payloads
    tagged, same = inputs.resume_inputs(5, 1000, 0.9, 0.01, nonce_tag="i3")
    assert same.equals(done)
    nonced = sum('"nonce"' in t for t in tagged["tool"].to_pylist())
    assert nonced == 1000 - 900 + len(changed)
    assert tagged["payload_id"].equals(table["payload_id"])


# -- spans and process statistics ---------------------------------------------


def test_replay_times_every_turn_and_restores_the_core():
    from ds4sd_docling_tableformer_onnx_spark.core import otsl, pipeline

    originals = (pipeline.extract_turn, pipeline.post_process, otsl.is_square)
    batches = inputs.transcripts(1, 60).select(["conv_id", "turn_idx", "text", "tool"]).to_batches(25)
    r = trace.replay(batches)
    assert r["rows"] == 60 and len(r["batch_ns"]) == 3 and len(r["turns"]) == 60
    turn_ns, layers = r["turns"][0]
    assert set(layers) == set(trace.CORE_LAYERS) and sum(layers.values()) <= turn_ns
    assert (pipeline.extract_turn, pipeline.post_process, otsl.is_square) == originals


def test_process_tree_cpu_and_rss():
    me = os.getpid()
    assert procstat.tree_pids(me)[0] == me
    before = procstat.tree_cpu_s(me)
    sum(i * i for i in range(3_000_000))
    assert procstat.tree_cpu_s(me) > before
    with procstat.PeakRss(me, interval_s=0.01) as rss:
        block = bytearray(64 << 20)
    assert rss.peak >= len(block)
