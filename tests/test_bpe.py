"""operators/bpe.py: iterative BPE merge training.

Three-way differential: the Spark operator, a pure-Python scalar
reference (the textbook greedy merge loop), and the unrolled DuckDB
oracle SQL all on the same constructed corpus — covering overlap runs
("aaaa" merges to [aa, aa], not [aa, a, a]), tie-breaks, short docs,
and multi-char merged tokens.
"""

from __future__ import annotations

from collections import Counter

import duckdb
import pytest


def ref_bpe(docs, rounds):
    """Scalar reference: greedy left-to-right non-overlapping merges."""
    streams = {i: list(t) for i, t in docs}
    merges = []
    for r in range(1, rounds + 1):
        counts: Counter = Counter()
        for toks in streams.values():
            for x, y in zip(toks, toks[1:]):
                counts[(x, y)] += 1
        if not counts:
            break
        (lft, rgt), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((r, lft, rgt, lft + rgt, cnt))
        for key, toks in streams.items():
            out, i = [], 0
            while i < len(toks):
                if i + 1 < len(toks) and toks[i] == lft and toks[i + 1] == rgt:
                    out.append(lft + rgt)
                    i += 2
                else:
                    out.append(toks[i])
                    i += 1
            streams[key] = out
    return merges, streams


# ids are multiples of 4: the registered query (and its oracle) trains
# on the deterministic doc_id % 4 = 0 shard, so these all survive it
DOCS = [
    (0, "aaaa"),          # overlap run: must merge to [aa, aa]
    (4, "aaa"),           # odd run: [aa, a]
    (8, "ababab"),        # alternating, later multi-char merges
    (12, "the cat sat"),  # spaces are symbols too
    (16, "a"),            # no pairs
    (20, ""),             # empty
    (24, "abab ababx"),
]


def test_bpe_matches_scalar_reference(spark):
    from ds4sd_docling_tableformer_onnx_spark.operators.bpe import (
        bpe_merge_rounds,
        char_tokens,
    )

    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    merges, final = bpe_merge_rounds(
        char_tokens(df).select("doc_id", "toks"), rounds=6
    )
    exp_merges, exp_streams = ref_bpe(DOCS, 6)
    got = [(m["merge_round"], m["lft"], m["rgt"], m["merged"], m["cnt"]) for m in merges]
    assert got == exp_merges
    got_streams = {r["doc_id"]: r["toks"] for r in final.collect()}
    assert got_streams == exp_streams


def test_bpe_oracle_sql_matches_reference():
    """The unrolled window-based DuckDB oracle implements the same
    greedy semantics as the scalar reference (independent of Spark)."""
    from ds4sd_docling_tableformer_onnx_spark.queries import (
        _BPE_MERGE_ROUNDS,
        _bpe_merges_oracle_sql,
    )

    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", DOCS)
    rows = con.execute(_bpe_merges_oracle_sql()).fetchall()
    exp_merges, _ = ref_bpe(DOCS, _BPE_MERGE_ROUNDS)
    assert [tuple(r) for r in rows] == exp_merges


def test_bpe_encode_replays_training(spark):
    """Tokenizer APPLY differential: encoding the training corpus with
    the trained table must reproduce the trainer's final stream exactly
    (bpe_encode replays the same in-order greedy passes), and the
    scalar reference agrees.  Unseen-document behavior is covered by
    the registered ``bpe_encode`` oracle query on the disjoint shard."""
    from ds4sd_docling_tableformer_onnx_spark.operators.bpe import (
        bpe_encode,
        bpe_merge_rounds,
        char_tokens,
    )

    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    merges, final = bpe_merge_rounds(
        char_tokens(df).select("doc_id", "toks"), rounds=6
    )
    trainer_streams = {r["doc_id"]: r["toks"] for r in final.collect()}
    encoded = bpe_encode(df, merges)
    got = {r["doc_id"]: r["tokens"] for r in encoded.collect()}
    assert got == trainer_streams
    _, exp_streams = ref_bpe(DOCS, 6)
    assert got == exp_streams
    # unseen text through the same table: cascading multi-char merges
    # apply in training order (plain (lft, rgt) tuples accepted too)
    unseen = spark.createDataFrame([(99, "abab aaaa")], "doc_id long, text string")
    pairs = [(m["lft"], m["rgt"]) for m in merges]
    got_unseen = bpe_encode(unseen, pairs).collect()[0]["tokens"]
    ref = {99: list("abab aaaa")}
    for lft, rgt in pairs:
        for key, toks in ref.items():
            out, i = [], 0
            while i < len(toks):
                if i + 1 < len(toks) and toks[i] == lft and toks[i + 1] == rgt:
                    out.append(lft + rgt)
                    i += 2
                else:
                    out.append(toks[i])
                    i += 1
            ref[key] = out
    assert got_unseen == ref[99]


def test_bpe_stops_when_pairs_run_out(spark):
    from ds4sd_docling_tableformer_onnx_spark.operators.bpe import (
        bpe_merge_rounds,
        char_tokens,
    )

    df = spark.createDataFrame([(1, "ab")], "doc_id long, text string")
    merges, final = bpe_merge_rounds(
        char_tokens(df).select("doc_id", "toks"), rounds=10
    )
    # round 1 merges (a, b); the single "ab" token then has no pairs
    assert [(m["lft"], m["rgt"]) for m in merges] == [("a", "b")]
    assert final.collect()[0]["toks"] == ["ab"]
