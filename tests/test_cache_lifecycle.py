"""Skew guards for the unblocked LSH near-dup path + caller-owned
persist lifecycle (plans/cache.py)."""

import pytest
from pyspark.sql import functions as F

from ds4sd_docling_tableformer_onnx_spark.operators.similarity import (
    auto_n_planes,
    lsh_neardup_pairs,
)
from ds4sd_docling_tableformer_onnx_spark.plans.cache import (
    cached_inputs,
    release,
)

SF = "/root/testdata/sf0.001"


def test_auto_n_planes_scales_with_corpus():
    # small corpora stay at the floor
    assert auto_n_planes(100) == 8
    assert auto_n_planes(1024) == 8
    # 2^p >= n / target
    assert auto_n_planes(1024 * 256) == 8
    assert auto_n_planes(1024 * 257) == 9
    assert auto_n_planes(10**9) == 20  # the VERDICT's 10^9-row scenario
    # ceiling clamp
    assert auto_n_planes(10**12, target_bucket_rows=1) == 24


def test_degenerate_corpus_is_capped_not_quadratic(spark):
    """10k IDENTICAL embeddings all land in one bucket: the uncapped
    self-join would score ~5*10^7 pairs; the cap drops the bucket (0
    pairs), logs it, and completes immediately."""
    n = 10_000
    df = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.lit(1.0), F.lit(2.0), F.lit(3.0), F.lit(4.0)]).alias(
            "embedding"
        ),
    )
    pairs = lsh_neardup_pairs(df, n_planes=4, max_bucket_rows=100)
    assert pairs.count() == 0
    release(pairs)

    # the guard is opt-out: a small identical clump below the cap pairs up
    small = df.where("vec_id < 50")
    pairs = lsh_neardup_pairs(small, n_planes=4, max_bucket_rows=100)
    assert pairs.count() == 50 * 49 // 2
    release(pairs)


def test_cap_is_a_noop_on_uniform_corpus(spark):
    """On the near-uniform synthetic embeddings the cap must not change
    the answer (the oracle mirrors this exact semantics)."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    capped = lsh_neardup_pairs(emb, n_planes=8, max_bucket_rows=10_000)
    uncapped = lsh_neardup_pairs(emb, n_planes=8, max_bucket_rows=None)
    rows_c = sorted(map(str, capped.collect()))
    rows_u = sorted(map(str, uncapped.collect()))
    assert rows_c == rows_u and rows_c
    release(capped)
    release(uncapped)


def test_auto_planes_path_runs(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    pairs = lsh_neardup_pairs(emb, n_planes=None)  # 500 rows -> floor (8)
    explicit = lsh_neardup_pairs(emb, n_planes=8)
    assert sorted(map(str, pairs.collect())) == sorted(map(str, explicit.collect()))
    release(pairs)
    release(explicit)


def test_release_frees_all_operator_caches(spark):
    """Every operator that persists an intermediate hands it to the
    caller via plans/cache.adopt; release() returns the session to its
    prior storage footprint (VERDICT r2 item 3)."""
    from ds4sd_docling_tableformer_onnx_spark.operators.dedup import (
        simhash_candidates,
        simhash_column,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    sims = simhash_candidates(simhash_column(docs, text_col="text"), id_col="doc_id")
    sims.count()
    assert cached_inputs(sims)

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    pairs = lsh_neardup_pairs(emb, n_planes=8)
    pairs.count()
    assert cached_inputs(pairs)

    # Track the exact frames each operator adopted rather than the global
    # persistent-RDD count: the session-scoped suite runs operators whose
    # per-iteration localCheckpoint blocks are freed ASYNCHRONOUSLY by the
    # ContextCleaner when their Python refs are GC'd, so the global count
    # can shrink underneath this test at any moment (observed flake).
    def _pinned(frame):
        lvl = frame.storageLevel
        return lvl.useMemory or lvl.useDisk

    owned = {
        id(c): c for f in (sims, pairs) for c in cached_inputs(f)
    }
    assert owned and all(_pinned(c) for c in owned.values())  # really pinned
    for frame in (sims, pairs):
        release(frame, blocking=True)
    assert not any(_pinned(c) for c in owned.values())  # really freed

    # double-release is harmless
    release(sims)


def test_release_is_noop_on_plain_frames(spark):
    df = spark.range(3)
    assert cached_inputs(df) == []
    assert release(df) is df
