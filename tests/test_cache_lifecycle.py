"""Skew guards for the unblocked LSH near-dup path, and the one way
operators materialize an intermediate: a local checkpoint, whose blocks
Spark's ContextCleaner frees once the frame is unreachable.  Nothing
pins a CacheManager entry (``persist()``/``cache()``) that a caller
would have to release."""

import ast
from pathlib import Path

from pyspark.sql import functions as F

from ds4sd_docling_tableformer_onnx_spark.operators.similarity import (
    auto_n_planes,
    lsh_neardup_pairs,
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

    # the guard is opt-out: a small identical clump below the cap pairs up
    small = df.where("vec_id < 50")
    pairs = lsh_neardup_pairs(small, n_planes=4, max_bucket_rows=100)
    assert pairs.count() == 50 * 49 // 2


def test_cap_is_a_noop_on_uniform_corpus(spark):
    """On the near-uniform synthetic embeddings the cap must not change
    the answer (the oracle mirrors this exact semantics)."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    capped = lsh_neardup_pairs(emb, n_planes=8, max_bucket_rows=10_000)
    uncapped = lsh_neardup_pairs(emb, n_planes=8, max_bucket_rows=None)
    rows_c = sorted(map(str, capped.collect()))
    rows_u = sorted(map(str, uncapped.collect()))
    assert rows_c == rows_u and rows_c


def test_auto_planes_path_runs(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    pairs = lsh_neardup_pairs(emb, n_planes=None)  # 500 rows -> floor (8)
    explicit = lsh_neardup_pairs(emb, n_planes=8)
    assert sorted(map(str, pairs.collect())) == sorted(map(str, explicit.collect()))


def test_operators_leave_no_cached_relation(spark):
    """Every operator that materializes an intermediate for several
    consumers does it with a local checkpoint: after an action over
    each, the session's CacheManager holds nothing."""
    from ds4sd_docling_tableformer_onnx_spark.operators.contamination import (
        duplicated_span_stats,
        strip_duplicated_substrings,
    )
    from ds4sd_docling_tableformer_onnx_spark.operators.dedup import (
        simhash_candidates,
        simhash_column,
    )
    from ds4sd_docling_tableformer_onnx_spark.operators.similarity import (
        semantic_dedup,
    )

    spark.catalog.clearCache()  # what earlier tests cached themselves
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    frames = [
        simhash_candidates(simhash_column(docs), id_col="doc_id"),
        lsh_neardup_pairs(emb, n_planes=8),
        strip_duplicated_substrings(docs),
        duplicated_span_stats(docs),
        semantic_dedup(emb, n_lists=8, seed=7),
    ]
    for frame in frames:
        assert frame.count() > 0
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


REPO = Path(__file__).resolve().parent.parent


def _program_files():
    """The package, jobs/, scripts/ and the bench*.py harnesses."""
    for folder in ("ds4sd_docling_tableformer_onnx_spark", "jobs", "scripts"):
        yield from sorted((REPO / folder).rglob("*.py"))
    yield from sorted(REPO.glob("bench*.py"))


def test_no_persist_cache_or_release_protocol():
    """No program file calls ``.persist(``/``.cache(`` or imports the
    deleted ``plans.cache`` release protocol."""
    found = []
    for path in _program_files():
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("persist", "cache")
            ):
                found.append(f"{path.relative_to(REPO)}:{node.lineno} .{node.func.attr}(")
            if isinstance(node, ast.ImportFrom):
                modules = [
                    f"{node.module or ''}.{alias.name}".lstrip(".") for alias in node.names
                ]
                modules.append(node.module or "")
            elif isinstance(node, ast.Import):
                modules = [alias.name for alias in node.names]
            else:
                continue
            if any(m == "plans.cache" or m.endswith(".plans.cache") for m in modules):
                found.append(f"{path.relative_to(REPO)}:{node.lineno} imports plans.cache")
    assert not found, found
