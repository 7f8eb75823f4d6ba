"""Output contracts of the one-row-in, one-row-out Python stages.

Each stage's Spark schema is written out as DDL and each stage's output
on fixed inputs is pinned by a SHA-256 over its collected rows (sorted
by id), so a change to the worker plumbing that moves a single value,
type or column shows up here.  The extraction worker is pinned the same
way, directly over the payload pool plus malformed turns.
"""

import hashlib
import json
import os
import random

import pytest

from .test_widen_gc import SF

DOCS = os.path.join(os.path.dirname(SF), "sf0.001", "documents.parquet")
IMAGE_SCHEMA = "item_id long, image binary, height int, width int, table_bbox array<double>"


def _digest(rows):
    return hashlib.sha256(json.dumps([list(r) for r in rows]).encode("utf-8")).hexdigest()


def _check(out, ddl, key, expected_sha):
    from pyspark.sql.types import DataType

    assert out.schema == DataType.fromDDL(ddl)
    assert _digest(sorted(out.collect(), key=key)) == expected_sha


@pytest.fixture(scope="module")
def pages(spark):
    from pyspark.sql import functions as F

    from ds4sd_docling_tableformer_onnx_spark.operators.maincontent import synthesize_pages

    extra = spark.createDataFrame(
        [(-1, None), (-2, ""), (-3, "<p>soup <div <<< &#bad; <a href='x'>one</a>")],
        "doc_id long, html string",
    )
    return synthesize_pages(spark.read.parquet(DOCS)).unionByName(extra).select(
        "doc_id", "html", F.concat(F.lit("c"), (F.col("doc_id") % 7).cast("string")).alias("conv_id")
    )


def test_strip_boilerplate_column_contract(pages):
    from ds4sd_docling_tableformer_onnx_spark.operators.maincontent import (
        strip_boilerplate_column,
    )

    _check(
        strip_boilerplate_column(pages),
        "doc_id long, main_text string, n_blocks int, n_content_blocks int, "
        "main_sha256 string, parse_error boolean",
        lambda r: r["doc_id"],
        "7406830dfe37547fb72c5c60621dc1751333fe5b6e315092b36ada9ce5d92c8d",
    )


def test_strip_transcript_turns_contract(pages):
    from pyspark.sql import functions as F

    from ds4sd_docling_tableformer_onnx_spark.operators.maincontent import (
        strip_transcript_turns,
    )

    turns = pages.select(
        "conv_id", F.col("doc_id").cast("int").alias("turn_idx"), F.col("html").alias("text")
    )
    _check(
        strip_transcript_turns(turns),
        "conv_id string, turn_idx int, main_text string, n_blocks int, "
        "n_content_blocks int, main_sha256 string, parse_error boolean",
        lambda r: (r["conv_id"], r["turn_idx"]),
        "6002d94b744c639c85bee3b457e6f2f2ba68011292803f7cc2a0811d13d7e586",
    )


def _token_layouts():
    rng = random.Random(12)
    rows = []
    for doc in range(40):
        toks, tid, y = [], 0, 700.0
        for _line in range(rng.randint(1, 7)):
            x = rng.uniform(0.0, 30.0)
            h = rng.uniform(6.0, 14.0)
            for _ in range(rng.randint(1, 8)):
                w = rng.uniform(5.0, 40.0)
                yy = y + rng.uniform(-0.2, 0.2) * h
                toks.append({"id": tid, "text": f"d{doc}t{tid}", "bbox": [x, yy, x + w, yy + h]})
                tid += 1
                x += w + rng.uniform(2.0, 9.0)
            y -= rng.uniform(0.6, 2.5) * h
        rng.shuffle(toks)
        rows.append((doc, json.dumps(toks)))
    rows += [(100, None), (101, ""), (102, "[]"), (103, "not json")]
    return rows


def test_reading_order_spans_contract(spark):
    from ds4sd_docling_tableformer_onnx_spark.operators.maincontent import reading_order_spans

    df = spark.createDataFrame(_token_layouts(), "doc_id long, tokens_json string")
    _check(
        reading_order_spans(df),
        "doc_id long, ordered_text string, n_tokens int, n_lines int",
        lambda r: r["doc_id"],
        "e627a6262f37fbd856eebae0ae41e1255e8401c60cad6bd3e252bdab08e259b1",
    )


@pytest.fixture(scope="module")
def images(spark):
    import numpy as np

    rng = np.random.default_rng(21)
    rows = []
    for i in range(6):
        h, w = int(rng.integers(24, 80)), int(rng.integers(24, 80))
        img = rng.integers(0, 255, size=(h, w, 3), dtype=np.uint8)
        bbox = [1.0 + i, 2.0, w - 3.5, h - 1.25]
        rows.append((i, bytearray(img.tobytes()), h, w, bbox))
    rows.append((99, bytearray(b"short"), 64, 48, [0.0, 0.0, 10.0, 10.0]))
    return spark.createDataFrame(rows, IMAGE_SCHEMA)


def test_prepare_tensors_contract(images):
    from ds4sd_docling_tableformer_onnx_spark.operators.neural import prepare_tensors

    _check(
        prepare_tensors(images),
        "item_id long, ok boolean, err string, "
        "scale_factor double, rounded_bbox array<int>, "
        "crop_sha256 string, tensor_sha256 string, "
        "tensor_mean double, tensor_std double, tensor_min double, tensor_max double",
        lambda r: r["item_id"],
        "4bc3767bd1407bd56a7aabdb2c78e10ca3ba327c065348e369e4ef65deb8ac70",
    )


def test_decode_tables_contract(images):
    from ds4sd_docling_tableformer_onnx_spark.operators.neural import decode_tables

    from .test_realmodel import _surrogate_table_predictor

    _check(
        decode_tables(images, predict_fn=_surrogate_table_predictor),
        "item_id long, ok boolean, err string, "
        "tag_seq array<int>, n_boxes int, classes array<int>",
        lambda r: r["item_id"],
        "5bb3479eabbbe302f540bb1edbee7be9ea25996f865c47153e5b447935610d31",
    )


@pytest.mark.parametrize(
    "correct_overlapping_cells, expected_sha",
    [(False, "6841028a438ac7bcd9621193c3764fd204c22810919677ac366cfadcd76a619e"), (True, "688e1e4005be8ff4d50e496a1d055eea866a93dc77c0ae94a0b96b5766c5ca0d")],
)
def test_extract_worker_contract(correct_overlapping_cells, expected_sha):
    """The extraction worker over the payload pool plus malformed turns,
    in two batches: every output column of every row, both flag values."""
    import pyarrow as pa

    from ds4sd_docling_tableformer_onnx_spark.operators.extract import _extract_batches
    from ds4sd_docling_tableformer_onnx_spark.sources.fixtures import payload_pool

    pool = payload_pool()
    texts = [e["text"] for e in pool] + ["not json", None, "{}", "[1, 2]", '{"a": 1}', "null"]
    tools = [e["tool"] for e in pool] + ["{}", "{}", None, "{}", "not json", "{}"]
    batch = pa.RecordBatch.from_pydict(
        {
            "conv_id": [f"c{i}" for i in range(len(texts))],
            "turn_idx": pa.array(range(len(texts)), pa.int32()),
            "text": texts,
            "tool": tools,
        }
    )
    half = batch.num_rows // 2
    out = pa.Table.from_batches(
        _extract_batches(iter([batch.slice(0, half), batch.slice(half)]), correct_overlapping_cells)
    )
    assert out.num_rows == batch.num_rows
    header = [f"{field.name}: {field.type}" for field in out.schema]
    rows = zip(*(out.column(name).to_pylist() for name in out.schema.names))
    assert _digest([header, *rows]) == expected_sha
