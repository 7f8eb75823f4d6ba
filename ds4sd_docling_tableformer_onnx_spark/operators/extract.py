"""The extraction operator: transcripts DataFrame -> per-turn grid output.

Scale design (the part that must survive 10^12 turns / 1000 executors):

- **Narrow, shuffle-free map stage.** Per-turn extraction is
  embarrassingly parallel, so it runs as ``mapInArrow`` directly over
  the scan — no shuffle, no grouping.  Catalyst prunes the input to the
  four columns the UDF declares (conv_id, turn_idx, text, tool); filter
  pushdown on conv_id/ts reaches the parquet/Iceberg scan untouched.
- **Arrow batches are the vectorization unit** (2048 rows/batch by
  session default): JSON decode + the pure-Python per-sequence scans are
  amortized per batch; no per-row Python in the Spark plan itself.
- **The worker runs once per distinct payload in each Arrow batch.**
  Extraction is a pure function of the ``(text, tool)`` payload, and
  transcripts repeat payloads turn after turn, so the Spark path runs
  the per-row worker over the first row of each distinct payload and
  expands its output back to every input row (``_distinct_payloads``).
  No state is kept across batches and nothing is shuffled; a batch
  with no repeated payload passes through untouched.
- **Stable turn ordering** is an output-side concern: per-conversation
  views order by ``turn_idx`` under a window partitioned by conv_id —
  one shuffle, AQE skew-splitting enabled for mega-conversations.
- **Lineage**: every output row carries payload_sha256 +
  spark_partition_id for the checkpoint/metrics tables (plans/checkpoint).

Reference lifecycle being re-expressed: tf_predictor.predict /
predict_dummy + multi_table_predict (SURVEY §3.1-3.2).
"""

from __future__ import annotations

import hashlib
import json
import math
from collections import deque
from collections.abc import Sized
from itertools import chain
from typing import Iterator

import pyarrow as pa

from ..config import MAX_STEPS
from ..functions.keys import payload_key_py
from ..functions.rows import row_batches, spark_schema

# The worker's output contract, in column order: name, Arrow type, and
# the value a malformed turn's error row carries (functions/rows.py).
# conv_id/turn_idx pass through from the input batch and payload_sha256
# is computed for every row, so their third entry is never used.
OUTPUT_COLUMNS = (
    ("conv_id", pa.string(), None),
    ("turn_idx", pa.int32(), None),
    ("payload_id", pa.int32(), -1),
    ("ok", pa.bool_(), False),
    ("err", pa.string(), None),
    ("num_rows", pa.int32(), 0),
    ("num_cols", pa.int32(), 0),
    ("n_cells", pa.int32(), 0),
    ("n_matches", pa.int32(), 0),
    ("bbox_sync", pa.bool_(), False),
    ("square", pa.bool_(), False),
    ("matched", pa.bool_(), False),
    ("rs_seq", pa.list_(pa.string()), []),
    ("html_seq", pa.list_(pa.string()), []),
    ("html_sha256", pa.string(), None),
    ("tf_responses_json", pa.string(), "[]"),
    ("payload_sha256", pa.string(), None),
)
_KEEP = ("conv_id", "turn_idx", "payload_sha256")

# the longest tag stream the reference decoder emits: MAX_STEPS tags
# plus the <start>/<end> sentinels (reference tm_config predict.max_steps)
MAX_TAGS = MAX_STEPS + 2


def _keyed(batches):
    """Each batch plus its payload_sha256 column: the shared injective
    payload key (functions/keys.py), byte-identical to resume_filter's
    JVM-side expression, so a null payload's error row still carries
    the key checkpoint resume matches."""
    for batch in batches:
        keys = [
            payload_key_py(text, tool)
            for text, tool in zip(
                batch.column("text").to_pylist(), batch.column("tool").to_pylist()
            )
        ]
        yield batch.append_column("payload_sha256", pa.array(keys, pa.string()))


def _non_finite(constant):
    raise ValueError(f"non-finite number in payload: {constant}")


def _check_finite_bboxes(payload):
    """Raise unless every coordinate of the table bbox, the cell bboxes
    and the PDF cells' bboxes is a finite number.  Strict parsing
    rejects ``NaN``/``Infinity`` tokens, but an overflowing literal such
    as ``1e999`` still parses to ``inf``."""
    boxes = [payload.get("table_bbox") or (), *(payload.get("bboxes") or ())]
    for cell in payload.get("pdf_cells") or ():
        bbox = cell["bbox"]
        boxes.append(bbox.values() if isinstance(bbox, dict) else bbox)
    if not all(map(math.isfinite, chain.from_iterable(boxes))):
        raise ValueError("non-finite bbox coordinate in payload")


def _check_tag_stream(payload):
    """Raise when ``tag_seq``, ``otsl`` or ``raw_tags`` holds more than
    ``MAX_TAGS`` tags: no reference decode emits such a stream, and the
    per-turn algebra is superlinear in its length, so one such turn
    would stall its task.  ``pdf_cells`` stays unbounded, as in the
    reference, which bounds no page's tokens."""
    for key in ("tag_seq", "otsl", "raw_tags"):
        tags = payload.get(key)
        if isinstance(tags, Sized) and len(tags) > MAX_TAGS:
            raise ValueError(f"{key} holds {len(tags)} tags; the decoder emits at most {MAX_TAGS}")


def _extract_batches(batches: Iterator, correct_overlapping_cells: bool):
    """Arrow-batch worker: consumes pyarrow RecordBatches, yields
    RecordBatches of ``OUTPUT_COLUMNS`` through the row worker
    (mapInArrow — measured ~30% faster than the pandas bridge for this
    string-heavy output), one row function call per input row.
    ``extract_turn`` is resolved once, when the task starts.

    Payloads and ``tf_responses_json`` are strict JSON: a ``NaN`` or
    ``Infinity`` in the payload, or a non-finite number reaching the
    responses, makes the turn an error row, and so does a bbox
    coordinate that parses to a non-finite number or a tag stream longer
    than the decoder can emit (``_check_tag_stream``)."""
    from ..core.pipeline import extract_turn

    def turn(text, tool):
        payload = json.loads(text, parse_constant=_non_finite)
        context = json.loads(tool, parse_constant=_non_finite)
        payload.update(context)
        _check_finite_bboxes(payload)
        _check_tag_stream(payload)
        result = extract_turn(payload, correct_overlapping_cells=correct_overlapping_cells)
        return (
            context.get("payload_id", -1),
            True,
            None,
            result["num_rows"],
            result["num_cols"],
            result["n_cells"],
            result["n_matches"],
            result["bbox_sync"],
            result["square"],
            result["matched"],
            result["rs_seq"],
            result["html_seq"],
            hashlib.sha256(json.dumps(result["html_seq"]).encode("utf-8")).hexdigest(),
            json.dumps(result["tf_responses"], allow_nan=False),
        )

    return row_batches(_keyed(batches), _KEEP, ("text", "tool"), OUTPUT_COLUMNS, turn)


def _first_rows(batch):
    """``(rows, take)`` for one input batch: ``rows`` holds the first row
    of each distinct ``(text, tool)`` pair (nulls compare equal, as the
    payload key's null marker makes them) and ``take`` maps every input
    row to its pair's position in ``rows``.  ``None`` when no payload
    repeats."""
    import numpy as np

    text, tool = (
        batch.column(name).dictionary_encode(null_encoding="encode") for name in ("text", "tool")
    )
    pair = text.indices.to_numpy().astype(np.int64) * len(tool.dictionary)
    pair += tool.indices.to_numpy()
    _, rows, take = np.unique(pair, return_index=True, return_inverse=True)
    if len(rows) == batch.num_rows:
        return None
    return pa.array(rows), pa.array(take)


def _distinct_payloads(batches: Iterator):
    """``_extract_batches`` run once per distinct payload in each batch:
    the worker sees only each pair's first row, and its output row is
    taken back to every input row under that row's own conv_id and
    turn_idx.  The worker is closed in ``finally``, so its GC suspension
    ends even when this generator is closed early."""
    plans = deque()

    def firsts():
        for batch in batches:
            plan = _first_rows(batch)
            plans.append((batch, plan))
            yield batch if plan is None else batch.take(plan[0])

    worker = _extract_batches(firsts(), False)
    try:
        for out in worker:
            batch, plan = plans.popleft()
            if plan is None:
                yield out
                continue
            out = out.take(plan[1])
            for name in ("conv_id", "turn_idx"):
                i = out.schema.get_field_index(name)
                field = out.schema.field(i)
                out = out.set_column(i, field, batch.column(name).cast(field.type))
            yield out
    finally:
        worker.close()


def extract_transcripts(df):
    """transcripts (conv_id, turn_idx, role, text, tool, ts[, payload_id])
    -> per-turn extraction output.  Narrow transformation: column-pruned
    scan feeding one mapInArrow stage, one output row per input turn.
    The worker runs once per distinct ``(text, tool)`` payload in each
    Arrow batch (``_distinct_payloads``); every row's output equals the
    per-row worker's.

    No repartition is added: input splits are sized by bytes, and on
    well-laid-out inputs a round-robin shuffle costs more than the
    imbalance it would fix.
    """
    return df.select("conv_id", "turn_idx", "text", "tool").mapInArrow(
        _distinct_payloads,
        schema=spark_schema(OUTPUT_COLUMNS),
    )


def ordered_conversation_view(extracted):
    """Per-conversation ordered view (W2: stable turn ordering): adds the
    turn's rank within its conversation; one shuffle on conv_id."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    win = Window.partitionBy("conv_id").orderBy("turn_idx")
    return extracted.withColumn("turn_rank", F.row_number().over(win))


def verify_against_pool(extracted, pool_df):
    """Per-turn text-equality verdicts: broadcast-join the tiny payload
    pool (expected html per payload) and compare hashes.  Returns the
    extracted frame with ``html_match`` plus the expected hash."""
    from pyspark.sql import functions as F

    expected = pool_df.select(
        F.col("payload_id").alias("exp_payload_id"),
        "expected_html_sha",
    )
    joined = extracted.join(
        F.broadcast(expected),
        extracted["payload_id"] == expected["exp_payload_id"],
        "left",
    )
    return joined.withColumn(
        "html_match",
        F.col("ok") & (F.col("html_sha256") == F.col("expected_html_sha")),
    ).drop("exp_payload_id")
