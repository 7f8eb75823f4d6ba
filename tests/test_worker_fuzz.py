"""Malformed payloads through the extraction worker and through the
per-batch distinct-payload wrapper that ``extract_transcripts`` runs.

Hypothesis draws a few distinct payloads, some bad and some good, and
a sequence of rows that repeats them, cut into one to three Arrow
batches.  Both workers must give one row per input row, in input
order, with equal column lengths; every bad payload gives an error
row; nothing escapes; and the wrapper's output equals the per-row
worker's.
"""

import json

import pyarrow as pa
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from ds4sd_docling_tableformer_onnx_spark.core import pipeline
from ds4sd_docling_tableformer_onnx_spark.operators.extract import (
    MAX_TAGS,
    OUTPUT_COLUMNS,
    _distinct_payloads,
    _extract_batches,
)
from ds4sd_docling_tableformer_onnx_spark.sources.fixtures import payload_pool

POOL = payload_pool()
NAMES = [name for name, _, _ in OUTPUT_COLUMNS]
# values no payload field can iterate over
NON_ITERABLE = st.one_of(
    st.none(), st.booleans(), st.integers(), st.floats(allow_nan=False, allow_infinity=False)
)
SCALAR = st.one_of(NON_ITERABLE, st.text(max_size=6), st.lists(st.integers(), max_size=3))

entries = st.sampled_from(POOL)


def _tag_key(text):
    return "tag_seq" if text.get("tag_seq") is not None else "otsl"


@st.composite
def good(draw):
    e = draw(entries)
    return e["text"], e["tool"], "ok"


@st.composite
def empty_tags(draw):
    """A pool payload whose tag stream is empty: a valid 0x0 table."""
    e = draw(entries)
    text = json.loads(e["text"])
    text[_tag_key(text)] = []
    return json.dumps(text), e["tool"], "empty"


@st.composite
def non_json(draw):
    # no JSON text ends in an unclosed "{", so the whole string never parses
    junk = draw(st.text(max_size=12)) + "{"
    e = draw(entries)
    return (junk, e["tool"]) if draw(st.booleans()) else (e["text"], junk)


@st.composite
def not_an_object(draw):
    """text or tool parses, but not to a JSON object."""
    junk = json.dumps(draw(SCALAR))
    e = draw(entries)
    return (junk, e["tool"]) if draw(st.booleans()) else (e["text"], junk)


@st.composite
def wrong_field_type(draw):
    e = draw(entries)
    text, tool = json.loads(e["text"]), json.loads(e["tool"])
    value = draw(NON_ITERABLE)
    field = draw(st.sampled_from(["bboxes", "classes", "table_bbox", "tag"]))
    if field == "table_bbox":
        tool["table_bbox"] = value
    else:
        text[_tag_key(text) if field == "tag" else field] = value
    return json.dumps(text), json.dumps(tool)


@st.composite
def non_finite_bbox(draw):
    e = draw(entries)
    text = json.loads(e["text"])
    box = draw(st.sampled_from(text["bboxes"]))
    box[draw(st.integers(0, len(box) - 1))] = draw(
        st.sampled_from([float("nan"), float("inf"), float("-inf")])
    )
    return json.dumps(text), e["tool"]


# a placeholder coordinate that _dumps writes as an overflowing literal
OVERFLOW = "overflow"


def _boxes(text, tool):
    """A payload's bboxes by field, as the lists the parsed JSON holds."""
    return {
        "table_bbox": [tool["table_bbox"]],
        "bboxes": text["bboxes"],
        "pdf_cells": [cell["bbox"] for cell in tool["pdf_cells"]],
    }


def _dumps(text, tool, literal):
    return tuple(json.dumps(part).replace(f'"{OVERFLOW}"', literal) for part in (text, tool))


@st.composite
def overflowing_bbox(draw):
    """A bbox coordinate written as a literal that parses to an infinity
    past strict parsing, which only rejects NaN/Infinity tokens."""
    e = draw(entries)
    text, tool = json.loads(e["text"]), json.loads(e["tool"])
    box = draw(st.sampled_from([box for boxes in _boxes(text, tool).values() for box in boxes]))
    box[draw(st.integers(0, len(box) - 1))] = OVERFLOW
    return _dumps(text, tool, draw(st.sampled_from(["1e999", "-1e999"])))


def _long_stream(text, key, n):
    """``text`` with its ``key`` field set to its own tag stream
    repeated to ``n`` tags."""
    stream = text[_tag_key(text)]
    text[key] = (stream * (n // len(stream) + 1))[:n]
    return json.dumps(text)


@st.composite
def huge_tags(draw):
    """A tag stream of 10^4 or more tags, far past what the decoder
    emits, in any of the three tag fields."""
    e = draw(entries)
    text = json.loads(e["text"])
    key = draw(st.sampled_from([_tag_key(text), "raw_tags"]))
    return _long_stream(text, key, draw(st.integers(10_000, 30_000))), e["tool"]


@st.composite
def null_part(draw):
    e = draw(entries)
    return draw(st.sampled_from([(None, e["tool"]), (e["text"], None), (None, None)]))


BAD = st.one_of(
    non_json(),
    not_an_object(),
    wrong_field_type(),
    non_finite_bbox(),
    overflowing_bbox(),
    huge_tags(),
    null_part(),
)
PAYLOAD = st.one_of(good(), empty_tags(), BAD.map(lambda pair: (*pair, "bad")))


@st.composite
def turn_batches(draw):
    """(batches, expected outcome per row): distinct payloads repeated
    over the rows, cut into one to three batches."""
    distinct = draw(st.lists(PAYLOAD, min_size=1, max_size=4))
    picks = draw(st.lists(st.integers(0, len(distinct) - 1), min_size=1, max_size=10))
    rows = [distinct[i] for i in picks]
    table = pa.RecordBatch.from_pydict(
        {
            "conv_id": [f"c{i % 3}" for i in range(len(rows))],
            "turn_idx": pa.array(range(len(rows)), pa.int32()),
            "text": [text for text, _, _ in rows],
            "tool": [tool for _, tool, _ in rows],
        }
    )
    cuts = sorted(draw(st.lists(st.integers(0, len(rows)), max_size=2)))
    bounds = [0, *cuts, len(rows)]
    batches = [table.slice(lo, hi - lo) for lo, hi in zip(bounds, bounds[1:])]
    return batches, [expect for _, _, expect in rows]


def _check_rows(batches, outs):
    assert len(outs) == len(batches)
    for batch, out in zip(batches, outs):
        assert out.schema.names == NAMES
        assert all(len(column) == batch.num_rows for column in out.columns)
        assert out.column("conv_id").to_pylist() == batch.column("conv_id").to_pylist()
        assert out.column("turn_idx").to_pylist() == batch.column("turn_idx").to_pylist()


@settings(
    max_examples=500,
    deadline=None,
    derandomize=True,
    database=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(turn_batches())
def test_malformed_payloads_give_one_error_row_each(drawn):
    batches, expected = drawn
    per_row = list(_extract_batches(iter(batches), False))
    distinct = list(_distinct_payloads(iter(batches)))
    _check_rows(batches, per_row)
    _check_rows(batches, distinct)

    rows = pa.Table.from_batches(per_row).to_pylist()
    for row, expect in zip(rows, expected):
        if expect == "bad":
            assert row["ok"] is False and row["err"], row
        else:
            assert row["ok"] is True and row["err"] is None, row["err"]
        if expect == "empty":
            assert (row["num_rows"], row["num_cols"], row["tf_responses_json"]) == (0, 0, "[]")
    assert pa.Table.from_batches(distinct).to_pylist() == rows


def test_an_overflowing_bbox_literal_is_an_error_row_on_both_paths():
    """``1e999`` in the table bbox, the first cell bbox or the first PDF
    cell's bbox of the pool's first payload of each kind gives an error
    row, on the dummy path (no PDF cells) as on the matched path."""
    pairs, matched = [], []
    for kind in sorted({e["kind"] for e in POOL}):
        e = next(e for e in POOL if e["kind"] == kind)
        for field in ("table_bbox", "bboxes", "pdf_cells"):
            text, tool = json.loads(e["text"]), json.loads(e["tool"])
            boxes = _boxes(text, tool)[field]
            if boxes:
                boxes[0][0] = OVERFLOW
                pairs.append(_dumps(text, tool, "1e999"))
                matched.append(bool(tool["pdf_cells"]))
    assert set(matched) == {False, True}
    batch = pa.RecordBatch.from_pydict(
        {
            "conv_id": [f"c{i}" for i in range(len(pairs))],
            "turn_idx": pa.array(range(len(pairs)), pa.int32()),
            "text": [text for text, _ in pairs],
            "tool": [tool for _, tool in pairs],
        }
    )
    for rows in _both_workers(batch):
        assert len(rows) == len(pairs)
        for row in rows:
            assert row["ok"] is False and "non-finite" in row["err"], row


def _both_workers(batch):
    """The rows the per-row worker and the distinct-payload wrapper give
    for one batch."""
    return [
        pa.Table.from_batches(out).to_pylist()
        for out in (_extract_batches(iter([batch]), False), _distinct_payloads(iter([batch])))
    ]


def test_a_tag_stream_past_the_decoder_limit_is_an_error_row_on_both_paths():
    """One tag more than ``MAX_TAGS`` in ``tag_seq``, ``otsl`` or
    ``raw_tags`` of the pool's first payload of each kind gives an error
    row; no pool payload comes near the limit."""
    assert max(len(json.loads(e["text"])[_tag_key(json.loads(e["text"]))]) for e in POOL) < MAX_TAGS
    texts, tools = [], []
    for kind in sorted({e["kind"] for e in POOL}):
        e = next(e for e in POOL if e["kind"] == kind)
        text = json.loads(e["text"])
        for key in (_tag_key(text), "raw_tags"):
            texts.append(_long_stream(json.loads(e["text"]), key, MAX_TAGS + 1))
            tools.append(e["tool"])
    batch = pa.RecordBatch.from_pydict(
        {
            "conv_id": [f"c{i}" for i in range(len(texts))],
            "turn_idx": pa.array(range(len(texts)), pa.int32()),
            "text": texts,
            "tool": tools,
        }
    )
    for rows in _both_workers(batch):
        assert len(rows) == len(texts)
        for row in rows:
            assert row["ok"] is False and f"at most {MAX_TAGS}" in row["err"], row


def _repeating_batches():
    """Three batches of pool payloads repeated, with null and malformed
    payloads among them; the last batch repeats nothing."""
    pool = POOL[:5]
    texts = [e["text"] for e in pool] * 3 + [None, None, '{"broken', '{"broken', "{}", "{}"]
    tools = [e["tool"] for e in pool] * 3 + ["{}", "{}", "{}", "{}", "{}", "{}"]
    texts += [e["text"] for e in POOL[5:9]]
    tools += [e["tool"] for e in POOL[5:9]]
    table = pa.RecordBatch.from_pydict(
        {
            "conv_id": [f"c{i % 4}" for i in range(len(texts))],
            "turn_idx": pa.array(range(len(texts)), pa.int64()),
            "text": texts,
            "tool": tools,
        }
    )
    return [table.slice(0, 12), table.slice(12, 9), table.slice(21)]


def _parses(text, tool):
    try:
        return all(isinstance(json.loads(part), dict) for part in (text, tool))
    except (TypeError, ValueError):
        return False


# the Spark path runs the worker with the overlap fix off; the per-row
# worker's True path is pinned by test_row_contracts
@pytest.mark.parametrize("correct_overlapping_cells", [False])
def test_worker_runs_once_per_distinct_payload_per_batch(monkeypatch, correct_overlapping_cells):
    """``extract_turn`` runs once per distinct payload that reaches it in
    each batch, and every output row equals the per-row worker's."""
    batches = _repeating_batches()
    calls = []

    def counting(payload, **kwargs):
        calls.append(payload)
        return extract_turn(payload, **kwargs)

    extract_turn = pipeline.extract_turn
    monkeypatch.setattr(pipeline, "extract_turn", counting)

    per_row = pa.Table.from_batches(_extract_batches(iter(batches), correct_overlapping_cells))
    per_row_calls, calls[:] = len(calls), []
    outs = list(_distinct_payloads(iter(batches)))

    pairs = [
        list(zip(b.column("text").to_pylist(), b.column("tool").to_pylist())) for b in batches
    ]
    assert per_row_calls == sum(_parses(*pair) for batch in pairs for pair in batch)
    assert len(calls) == sum(_parses(*pair) for batch in pairs for pair in set(batch))
    assert len(calls) < per_row_calls
    assert outs[-1].num_rows == batches[-1].num_rows  # no repeats: passed through
    assert pa.Table.from_batches(outs).to_pylist() == per_row.to_pylist()
