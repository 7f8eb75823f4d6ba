"""Streaming keep-first exact dedup — ingestion-time exactly-once
content dedup: the first micro-batch that presents a content key claims
it (min doc_id inside that batch as the deterministic within-batch
tie-break); every later arrival of the same key is suppressed.

State is ONE tiny record per distinct content key, keyed by md5(text)
(16-byte keys — never the text itself), so state volume is bounded by
distinct-content count, not stream length.  The batch-side companion
for cross-shard history too large for stream state is the bloom
prefilter (operators/dedup.py:bloom_prefilter) in front of this
operator.

Exactly-once: emission happens in the same micro-batch transaction
that records the claim, so a replayed batch (checkpoint recovery)
re-emits the same keepers and suppresses the same duplicates.

At 10^9+ distinct keys the default HDFS-backed provider's on-heap
state is the limit: set ``spark.sql.streaming.stateStore.providerClass``
to ``org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider``
and ``spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled``
to ``true`` before starting the query, so state lives on local SSD and
each commit uploads per-batch deltas rather than full snapshots.  The
same two keys move streaming/neardup.py's state.
"""

from __future__ import annotations

STATE_SCHEMA = "claimed boolean"
OUTPUT_SCHEMA = "text_md5 string, keeper_id long"


def _first_keeper(key, pdfs, state):
    import pandas as pd

    claimed = state.exists
    best = None
    for pdf in pdfs:
        # the min() is only taken for the FIRST claim: an already-claimed
        # hot duplicate drains at iterator cost, not pandas reductions
        if not claimed and len(pdf):
            m = int(pdf["doc_id"].min())
            best = m if best is None or m < best else best
    if not claimed:
        state.update((True,))
        if best is not None:
            yield pd.DataFrame({"text_md5": [key[0]], "keeper_id": [best]})


def stream_exact_dedup(doc_stream):
    """(doc_id, text) append stream -> (text_md5, keeper_id) append
    stream with one emission per distinct content key, ever."""
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    keyed = doc_stream.select(F.md5("text").alias("text_md5"), "doc_id")
    return keyed.groupBy("text_md5").applyInPandasWithState(
        _first_keeper,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
