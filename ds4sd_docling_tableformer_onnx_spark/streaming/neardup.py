"""Streaming near-duplicate candidate detection.

The batch near-dup path (operators/dedup.py: simhash signatures ->
``band_layout`` -> the ``band_pairs`` self-join) re-expressed
incrementally: as documents arrive on a stream, each lands in its
simhash ``(band, key)`` buckets — the same ``band_layout`` rows and
``BAND_BITS``/``N_BANDS`` constants the batch join uses — and a
per-bucket ``applyInPandasWithState`` keeps the signatures seen so far
in that bucket.  A new document emits one candidate row per stored
bucket member — but only from the LOWEST band the pair shares (the
batch join's band-pair rule, decidable from the two signatures alone),
so the streamed union over all band groups is exactly the batch
candidate set, with no cross-bucket dedup.

State boundedness (the only shape that survives an unbounded stream):

- state per bucket is (ids, sigs) arrays — ~16 B per document per
  band, and bucket population is corpus_size / 2^BAND_BITS per band in
  expectation;
- ``MAX_STATE_ROWS`` caps a bucket's stored population: once full,
  new arrivals still COMPARE against the stored rows (and emit their
  pairs) but are not retained, and the drop is counted in state —
  the same skew discipline as the batch LSH bucket cap (a degenerate
  corpus flooding one bucket degrades recall measurably, never memory
  or wall unboundedly);
- production eviction: pair this with a watermark + event-time TTL
  (``GroupStateTimeout.EventTimeTimeout``) so state tracks the
  duplicate-arrival window; kept ``NoTimeout`` here so the
  streamed == batch equivalence test is exact.

Within a micro-batch, arrivals are processed in doc_id order and each
row also compares against earlier rows of the same batch, so a pair
split across micro-batches and a pair landing in one micro-batch
produce the identical row.
"""

from __future__ import annotations

from ..operators.dedup import BAND_BITS, BAND_MASK, N_BANDS

OUTPUT_SCHEMA = "id_a bigint, id_b bigint, hamming bigint"
STATE_SCHEMA = "ids array<bigint>, sigs array<bigint>, dropped bigint"

# signatures a (band, key) bucket stores before it stops retaining arrivals
MAX_STATE_ROWS = 65536


def _make_update(max_state_rows: int):
    def _update(key, pdfs, state):
        import numpy as np
        import pandas as pd

        band_idx = int(key[0])
        ids, sigs, dropped = (
            ([], [], 0)
            if not state.exists
            else (list(state.get[0]), list(state.get[1]), int(state.get[2]))
        )

        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values("doc_id")

        # vectorized per arrival: the stored bucket (state + earlier
        # rows of this batch) lives in geometric-growth numpy buffers;
        # each incoming doc does ONE xor / band-compare / popcount pass
        # over the buffer instead of a Python pair loop — bounded work
        # even when a flood drives the bucket to max_state_rows.
        size = len(ids)
        cap = max(16, 1 << (max(size, 1) - 1).bit_length())
        buf_ids = np.zeros(cap, dtype=np.int64)
        buf_sigs = np.zeros(cap, dtype=np.uint64)
        buf_ids[:size] = ids
        buf_sigs[:size] = np.array(sigs, dtype=np.int64).view(np.uint64)

        out_a: list = []
        out_b: list = []
        out_h: list = []
        for doc_id, sig in zip(
            rows["doc_id"].to_numpy(np.int64), rows["simhash"].to_numpy(np.int64)
        ):
            sig_u = np.uint64(np.int64(sig).view(np.uint64))
            if size:
                diff = buf_sigs[:size] ^ sig_u
                # first shared band (descending writes: lowest band
                # index wins), the batch band_pairs rule
                first = np.full(size, -1, dtype=np.int64)
                for i in range(N_BANDS - 1, -1, -1):
                    eq = (
                        (diff >> np.uint64(BAND_BITS * i)) & np.uint64(BAND_MASK)
                    ) == 0
                    first[eq] = i
                mask = (first == band_idx) & (buf_ids[:size] != doc_id)
                if mask.any():
                    others = buf_ids[:size][mask]
                    hams = (
                        np.unpackbits(
                            diff[mask][:, None].view(np.uint8), axis=1
                        ).sum(axis=1)
                    )
                    out_a.extend(np.minimum(others, doc_id).tolist())
                    out_b.extend(np.maximum(others, doc_id).tolist())
                    out_h.extend(hams.tolist())
            if size < max_state_rows:
                if size == cap:
                    cap *= 2
                    buf_ids = np.resize(buf_ids, cap)
                    buf_sigs = np.resize(buf_sigs, cap)
                buf_ids[size] = doc_id
                buf_sigs[size] = sig_u
                size += 1
            else:
                dropped += 1

        state.update(
            (
                buf_ids[:size].tolist(),
                buf_sigs[:size].view(np.int64).tolist(),
                dropped,
            )
        )
        if out_a:
            yield pd.DataFrame(
                {
                    "id_a": np.array(out_a, dtype=np.int64),
                    "id_b": np.array(out_b, dtype=np.int64),
                    "hamming": np.array(out_h, dtype=np.int64),
                }
            )

    return _update


def stream_neardup_candidates(docs_stream):
    """Streaming documents (doc_id, text, ...) -> append stream of
    (id_a, id_b, hamming) simhash candidate pairs, equal to the batch
    ``simhash_candidates`` output over the same rows."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..operators.dedup import band_layout, simhash_bands, simhash_column

    banded = band_layout(
        simhash_column(docs_stream),
        simhash_bands("simhash"),
        "doc_id",
        "simhash",
    ).drop("bands")
    return banded.groupBy("band", "key").applyInPandasWithState(
        _make_update(MAX_STATE_ROWS),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
