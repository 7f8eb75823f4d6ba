"""Physical-plan shape regression tests.

Correctness tests prove the operators compute the right values; these
prove the plans are the ones that survive a 100x scale-up: filters reach
the parquet scan, scans are pruned to the columns the stage needs, small
dims broadcast, and map-only stages stay shuffle-free.
"""

import pytest

from ds4sd_docling_tableformer_onnx_spark.operators.extract import (
    extract_transcripts,
    verify_against_pool,
)
from ds4sd_docling_tableformer_onnx_spark.sources.transcripts import (
    generate_transcripts,
    payload_pool_df,
)


def _executed_plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized_plan(df):
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.fixture(scope="module")
def transcript_parquet(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plans") / "transcripts")
    generate_transcripts(spark, n_turns=200, n_convs=10, seed=7).write.mode(
        "overwrite"
    ).parquet(path)
    return path


def test_extraction_scan_prunes_to_udf_columns(spark, transcript_parquet):
    """The mapInArrow stage declares 4 input columns; the parquet scan
    must read exactly those (role/ts never leave the file)."""
    import re

    df = extract_transcripts(spark.read.parquet(transcript_parquet))
    plan = _executed_plan(df)
    scan = next(line for line in plan.splitlines() if "FileScan parquet" in line)
    cols = {
        c.split("#")[0]
        for c in re.search(r"FileScan parquet \[([^\]]*)\]", scan).group(1).split(",")
    }
    assert cols == {"conv_id", "turn_idx", "text", "tool"}


def test_conv_filter_pushed_to_scan(spark, transcript_parquet):
    """A conv_id predicate applied after extraction wiring still reaches
    the parquet scan as a pushed filter (partition-pruning analog)."""
    src = spark.read.parquet(transcript_parquet).where("conv_id = 'conv-0003'")
    plan = _executed_plan(extract_transcripts(src))
    assert "PushedFilters: [" in plan
    assert "IsNotNull(conv_id)" in plan or "EqualTo(conv_id" in plan


def test_extraction_from_parquet_is_shuffle_free(spark, transcript_parquet):
    """Scan -> mapInArrow -> output: zero exchanges."""
    df = extract_transcripts(spark.read.parquet(transcript_parquet))
    assert _executed_plan(df).count("Exchange") == 0


def test_verification_join_broadcasts_the_pool(spark, transcript_parquet):
    """The expected-hash pool is a tiny dim: the verify join must be a
    broadcast hash join, never a shuffle join over the extraction output."""
    extracted = extract_transcripts(spark.read.parquet(transcript_parquet))
    plan = _executed_plan(verify_against_pool(extracted, payload_pool_df(spark)))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan


def test_driver_built_frames_are_local_relations(spark, monkeypatch):
    """Driver-built frames plan as LocalTableScan (no Python scan tasks)
    with the schema and rows the list-built form had."""
    import datetime as dt

    from ds4sd_docling_tableformer_onnx_spark.functions.local import local_frame
    from ds4sd_docling_tableformer_onnx_spark.operators.graph import pagerank
    from ds4sd_docling_tableformer_onnx_spark.queries import QUERIES

    plan = _executed_plan(payload_pool_df(spark))
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan

    ddl = "id int, name string, score double, ids array<bigint>, ts timestamp"
    ts = dt.datetime(2024, 1, 1, 12, 30, 0, 250)
    rows = [(1, "a", None, [1, 2], ts), (2, None, 3.5, None, None), (None, "c", -0.0, [], ts)]
    got = local_frame(spark, rows, ddl)
    listed = spark.createDataFrame(rows, ddl)
    assert got.schema == listed.schema
    assert got.collect() == listed.collect()
    assert "LocalTableScan" in _executed_plan(got)
    assert local_frame(spark, [], ddl).schema == listed.schema
    assert local_frame(spark, [], ddl).count() == 0

    # every frame these queries build on the driver (language markers,
    # the BPE merges result, ccnet thresholds, the sessionize sentinel
    # batches), each checked by itself: a whole query plan also shows
    # Scan ExistingRDD for a local checkpoint
    built = []
    create = spark.createDataFrame

    def recording(*args, **kwargs):
        built.append(create(*args, **kwargs))
        return built[-1]

    monkeypatch.setattr(spark, "createDataFrame", recording)
    for query in ("curation_pipeline", "bpe_merges", "ccnet_buckets", "stream_sessionize"):
        QUERIES[query](spark, "/root/testdata/sf0.001")
        assert built, query
        for frame in built:
            plan = _executed_plan(frame)
            assert "LocalTableScan" in plan and "ExistingRDD" not in plan, query
        built.clear()
    monkeypatch.undo()

    # pagerank over self-loops only: the empty ranks frame
    loops = spark.createDataFrame([(1, 1), (2, 2)], "src long, dst long")
    ranks = pagerank(loops, iterations=2)
    assert ranks.count() == 0 and ranks.columns == ["id", "r"]
    assert "LocalTableScan" in _executed_plan(ranks)


def test_lang_id_is_a_single_map_stage(spark):
    """lang_id votes via per-row array expressions: no join, no
    aggregation, no exchange anywhere in the plan."""
    from ds4sd_docling_tableformer_onnx_spark.queries import QUERIES

    plan = _executed_plan(QUERIES["lang_id"](spark, "/root/testdata/sf0.001"))
    assert plan.count("Exchange") == 0
    assert "Join" not in plan


def test_scalar_queries_stay_in_wholestage_codegen(spark):
    """token_count is pure column arithmetic: one codegen'd scan+project,
    no exchange, scan pruned to (doc_id, text)."""
    from ds4sd_docling_tableformer_onnx_spark.queries import QUERIES

    import re

    df = QUERIES["token_count"](spark, "/root/testdata/sf0.001")
    plan = _executed_plan(df)
    assert "*(1)" in plan  # whole-stage-codegen'd single stage
    assert plan.count("Exchange") == 0
    scan = next(line for line in plan.splitlines() if "FileScan parquet" in line)
    cols = {
        c.split("#")[0]
        for c in re.search(r"FileScan parquet \[([^\]]*)\]", scan).group(1).split(",")
    }
    assert cols == {"doc_id", "text"}  # lang/source/n_chars pruned


def test_simhash_pair_output_never_shuffles(spark):
    """Banded candidates: both sides of the one band self-join read ONE
    checkpointed band table (Scan ExistingRDD) and the (quadratic) pair
    output flows to the sink with no distinct/exchange over it."""
    from ds4sd_docling_tableformer_onnx_spark.queries import QUERIES

    df = QUERIES["simhash_candidates"](spark, "/root/testdata/sf0.001")
    plan = _executed_plan(df)
    # signatures materialized once: both join sides scan the checkpoint
    # and the signature UDF does not run again under either
    assert plan.count("Scan ExistingRDD") == 2
    assert "ArrowEvalPython" not in plan
    # no aggregation/dedup over the pair columns anywhere
    assert "HashAggregate" not in plan
    for line in plan.splitlines():
        if "Exchange" in line:
            # exchanges may only move the small signature table (band
            # keys / doc ids), never the id_a/id_b pair output
            assert "id_a" not in line and "id_b" not in line


def test_lsh_topk_avoids_global_sort_shuffle(spark):
    """LSH top-k ends in TakeOrderedAndProject (per-partition top-k +
    driver merge), not a global sort exchange."""
    from ds4sd_docling_tableformer_onnx_spark.queries import QUERIES

    plan = _executed_plan(QUERIES["lsh_ann_topk"](spark, "/root/testdata/sf0.001"))
    assert "TakeOrderedAndProject" in plan
    assert plan.count("Exchange") == 0


def test_media_features_stay_narrow(spark):
    """Binary feature extraction + posexplode: a single map lineage, no
    shuffle between the scan and the exploded byte-count rows."""
    from ds4sd_docling_tableformer_onnx_spark.queries import QUERIES

    plan = _executed_plan(QUERIES["media_feature_stub"](spark, "/root/testdata/sf0.001"))
    assert plan.count("Exchange") == 0


def test_ivf_store_probe_is_partition_pruned(spark, tmp_path_factory):
    """The at-scale IVF layout: corpus written partitionBy(ivf_list),
    probe reads ONLY the nprobe partitions (PartitionFilters at the
    scan) and returns the same top-k as the in-memory path."""
    from ds4sd_docling_tableformer_onnx_spark.operators.similarity import (
        ivf_topk,
        ivf_topk_from_store,
        train_ivf_centroids,
        write_ivf_store,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    query = list(emb.where("vec_id = 0").first()["embedding"])
    rest = emb.where("vec_id <> 0")
    cents = train_ivf_centroids(rest, n_lists=8, seed=7)
    store = str(tmp_path_factory.mktemp("ivf") / "store")
    write_ivf_store(rest, cents, store)

    df = ivf_topk_from_store(spark, store, cents, query, k=10, nprobe=4)
    plan = _executed_plan(df)
    scan = next(line for line in plan.splitlines() if "FileScan parquet" in line)
    assert "PartitionFilters" in scan and "ivf_list" in scan.split("PartitionFilters")[1]
    # pruning is real: the scan sees 4 of 8 list directories
    import re

    m = re.search(r"partitions read: (\d+)", plan)
    if m:  # metric present once executed
        assert int(m.group(1)) <= 4
    # and the pruned path returns exactly the in-memory IVF result
    mem = [(r["vec_id"], r["cosine"]) for r in
           ivf_topk(rest, query, k=10, n_lists=8, nprobe=4, centroids=cents).collect()]
    stored = [(r["vec_id"], r["cosine"]) for r in df.collect()]
    assert stored == mem


def test_checkpoint_target_dispatch():
    """Path vs catalog-table target classification."""
    from ds4sd_docling_tableformer_onnx_spark.plans.checkpoint import (
        is_table_target,
    )

    assert is_table_target("ice.db.ckpt")
    assert is_table_target("cat.ckpt")
    assert not is_table_target("/tmp/ckpt")
    assert not is_table_target("relative/path")
    assert not is_table_target("file:/tmp/ckpt")
    assert not is_table_target("s3a://bucket/ckpt")
    assert not is_table_target("plainname")  # no dot: not a table ident
    # dotted relative filenames stay paths (strong extensions AND weak
    # scratch suffixes at any depth — ADVICE r3: nightly.run.out /
    # a.b.tmp must not raise on a previously path-only API)
    assert not is_table_target("ckpt.parquet")
    assert not is_table_target("dump.json.gz")
    assert not is_table_target("metrics.log")
    assert not is_table_target("nightly.run.out")
    assert not is_table_target("a.b.tmp")
    assert not is_table_target("out.2024")  # segment not an identifier
    # non-suffix last segments stay tables at any depth
    assert is_table_target("ice.db.metrics_log")


def test_checkpoint_weak_suffix_yields_to_configured_catalog(spark):
    """ice.db.out IS a table when catalog 'ice' is configured in the
    session; otherwise the scratch-suffix path reading wins."""
    from ds4sd_docling_tableformer_onnx_spark.plans.checkpoint import (
        is_table_target,
    )

    assert not is_table_target("ice.db.out")
    assert not is_table_target("ice.db.out", spark)
    spark.conf.set("spark.sql.catalog.ice", "org.apache.iceberg.spark.SparkCatalog")
    try:
        assert is_table_target("ice.db.out", spark)
        assert not is_table_target("ice.db.out")  # sessionless stays path
    finally:
        spark.conf.unset("spark.sql.catalog.ice")


def test_iceberg_gate_raises_cleanly(spark):
    """Table target without a configured catalog: clear gate error, not
    a silent parquet fallback (same discipline as realmodel.py)."""
    from ds4sd_docling_tableformer_onnx_spark.plans.checkpoint import (
        read_checkpoint,
        write_checkpoint,
    )

    df = generate_transcripts(spark, n_turns=5, n_convs=1, seed=2)
    with pytest.raises(NotImplementedError, match="spark.sql.catalog.noice"):
        write_checkpoint(extract_transcripts(df), "noice.db.ckpt", "r1", "extract")
    with pytest.raises(NotImplementedError, match="spark.sql.catalog.noice"):
        read_checkpoint(spark, "noice.db.ckpt")


def test_iceberg_checkpoint_backend_when_available(spark, tmp_path_factory):
    """Full resume cycle against a hadoop-type Iceberg catalog —
    EXECUTES whenever the iceberg-spark runtime jars are present (v2
    catalogs instantiate lazily, so runtime conf.set suffices); skips
    cleanly in jarless sandboxes.  Resume semantics must match the
    parquet backend exactly."""
    from ds4sd_docling_tableformer_onnx_spark.plans.checkpoint import (
        run_with_checkpoint,
    )

    wh = tmp_path_factory.mktemp("iceberg_wh")
    spark.conf.set(
        "spark.sql.catalog.graft_ice", "org.apache.iceberg.spark.SparkCatalog"
    )
    spark.conf.set("spark.sql.catalog.graft_ice.type", "hadoop")
    spark.conf.set("spark.sql.catalog.graft_ice.warehouse", str(wh))
    df = generate_transcripts(spark, n_turns=20, n_convs=2, seed=11)
    try:
        try:
            first, skipped0 = run_with_checkpoint(
                spark, df, "graft_ice.db.ckpt", run_id="r1"
            )
            n_first = first.count()
        except Exception as exc:
            pytest.skip(f"iceberg runtime not on classpath: {type(exc).__name__}")
        assert skipped0 == 0 and n_first == 20
        second, skipped1 = run_with_checkpoint(
            spark, df, "graft_ice.db.ckpt", run_id="r2"
        )
        assert skipped1 == 20 and second.count() == 0
        ckpt = spark.table("graft_ice.db.ckpt")
        assert {"run_id", "stage", "partition_id", "payload_sha256"} <= set(
            ckpt.columns
        )
    finally:
        for key in ("", ".type", ".warehouse"):
            spark.conf.unset(f"spark.sql.catalog.graft_ice{key}")


def test_decontaminate_broadcasts_eval_grams(spark):
    """The benchmark/eval gram set is tiny by construction: its join
    against the exploded training-gram stream must be a broadcast hash
    join, and the only shuffle is the per-doc hit count."""
    from ds4sd_docling_tableformer_onnx_spark.queries import QUERIES

    plan = _executed_plan(QUERIES["decontaminate"](spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_unigram_logprob_broadcasts_vocab(spark):
    """The capped vocab (<= 65536 rows via TakeOrdered, never a global
    window) broadcasts into the token stream; no sort-merge join and no
    WindowExec anywhere."""
    from ds4sd_docling_tableformer_onnx_spark.queries import QUERIES

    plan = _executed_plan(QUERIES["unigram_logprob"](spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan
    assert "TakeOrderedAndProject" in plan


def test_negative_sample_broadcasts_query_side(spark):
    """The rendezvous probes broadcast into an EQUI-join on the ring
    bucket — never a nested-loop or shuffled |Q| x |D| product (the r4
    rewrite; the old cross join went 23x for 10x data at sf1)."""
    from ds4sd_docling_tableformer_onnx_spark.queries import QUERIES

    plan = _executed_plan(QUERIES["negative_sample"](spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_chunk_and_rule_filter_plans_are_shuffle_free(spark):
    """chunk_documents and c4_filters are pure narrow map(+generate)
    stages: a scan that chunks or rule-scores 100 TB must never
    exchange a byte."""
    from ds4sd_docling_tableformer_onnx_spark.queries import QUERIES

    for name in ("chunk_documents", "c4_filters"):
        plan = _executed_plan(QUERIES[name](spark, "/root/testdata/sf0.001"))
        assert "Exchange" not in plan, name


def test_dsir_scoring_pass_is_narrow_takeordered(spark):
    """After the two bounded bucket-histogram collects, DSIR scoring is
    one shuffle-free codegen pass ending in TakeOrdered — no join, no
    window, no Exchange."""
    from ds4sd_docling_tableformer_onnx_spark.queries import QUERIES

    plan = _executed_plan(QUERIES["dsir_resample"](spark, "/root/testdata/sf0.001"))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan


def test_quality_scoring_pass_is_shuffle_free(spark):
    """After the one bounded (label, bucket)-histogram collect, the
    quality classifier's scoring pass is a pure codegen map stage —
    the weight table rides as an array literal, so scoring 100 TB
    never exchanges a byte (same discipline as DSIR scoring).  The
    registered query widens its bench-scale single-split scan with one
    scale-adaptive round-robin repartition; that must remain the ONLY
    exchange in the plan."""
    from ds4sd_docling_tableformer_onnx_spark.queries import QUERIES

    plan = _executed_plan(
        QUERIES["quality_classifier"](spark, "/root/testdata/sf0.001")
    )
    assert plan.count("Exchange") <= plan.count("RoundRobinPartitioning")


def test_bpe_encode_plan_is_scan_project(spark):
    """Tokenizer APPLY is ONE Arrow-batched stage: scan -> project,
    no shuffle (the merge table travels in the UDF closure)."""
    from ds4sd_docling_tableformer_onnx_spark.queries import QUERIES

    plan = _executed_plan(QUERIES["bpe_encode"](spark, "/root/testdata/sf0.001"))
    assert "Exchange" not in plan
    assert "ArrowEvalPython" in plan


def test_global_shuffle_has_exactly_one_exchange(spark):
    """The only wide stage is the per-shard window partitioning —
    shard count is the parallelism knob, nothing else shuffles."""
    from ds4sd_docling_tableformer_onnx_spark.queries import QUERIES

    plan = _executed_plan(QUERIES["global_shuffle"](spark, "/root/testdata/sf0.001"))
    assert plan.count("Exchange") == 1


def test_winnow_fingerprints_is_shuffle_free(spark):
    """Winnowing never leaves the row until the final explode: grams,
    hashes, windowed argmin and the distinct all happen in array
    expressions — the OPERATOR adds zero Exchange and zero Python
    worker.  The registered query additionally widens the (bench-scale,
    single-split) scan with one scale-adaptive round-robin repartition;
    that must remain the ONLY exchange in its plan."""
    from ds4sd_docling_tableformer_onnx_spark.operators.dedup import (
        winnow_fingerprints,
    )
    from ds4sd_docling_tableformer_onnx_spark.queries import QUERIES

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _executed_plan(winnow_fingerprints(docs))
    assert "Exchange" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan

    qplan = _executed_plan(
        QUERIES["winnow_fingerprints"](spark, "/root/testdata/sf0.001")
    )
    assert qplan.count("Exchange") <= qplan.count("RoundRobinPartitioning")
    assert "ArrowEvalPython" not in qplan and "BatchEvalPython" not in qplan


def test_salted_join_spreads_hot_keys(spark):
    """salted_source_join: the fact->dim join executes as a sort-merge
    join keyed on (source, _salt) — the hot-source shuffle is spread
    over the salt fan-out, never a single-task hot partition, and never
    a broadcast (the merge hint pins the shuffle path the salt is for)."""
    from ds4sd_docling_tableformer_onnx_spark.queries import QUERIES

    df = QUERIES["salted_source_join"](spark, "/root/testdata/sf0.001")
    plan = _executed_plan(df)
    assert "BroadcastHashJoin" not in plan
    join_line = next(
        line for line in plan.splitlines() if "SortMergeJoin" in line
    )
    assert "source" in join_line and "_salt" in join_line
    # results identical to the unsalted join: checked by the DuckDB
    # oracle (scripts/check_oracles.py salted_source_join)


def test_inverted_postings_one_exchange_pruned_scan(spark):
    """Postings build = posexplode -> ONE map-side-combined agg: a
    single (term, doc_id) Exchange, scan pruned to (doc_id, text)."""
    import re

    from ds4sd_docling_tableformer_onnx_spark.queries import QUERIES

    plan = _executed_plan(
        QUERIES["inverted_postings"](spark, "/root/testdata/sf0.001")
    )
    assert plan.count("Exchange") == 1
    scan = next(line for line in plan.splitlines() if "FileScan parquet" in line)
    cols = {
        c.split("#")[0]
        for c in re.search(r"FileScan parquet \[([^\]]*)\]", scan).group(1).split(",")
    }
    assert cols == {"doc_id", "text"}


def test_conversation_render_single_conv_shuffle(spark):
    """chat_template_render and context_windows share the extraction
    job's grouping discipline: exactly ONE Exchange (the conv key) —
    the window expansion is an array explode, never a second shuffle."""
    from ds4sd_docling_tableformer_onnx_spark.queries import QUERIES

    for name in ("chat_template_render", "context_windows"):
        plan = _executed_plan(QUERIES[name](spark, "/root/testdata/sf0.001"))
        assert plan.count("Exchange") == 1, name
        assert "CartesianProduct" not in plan, name


def test_cube_is_one_expand_pass_with_broadcast_dim(spark):
    """CUBE executes as Expand -> ONE agg shuffle; the customer dim
    broadcasts — 4 grouping sets never mean 4 scans or a shuffle join."""
    from ds4sd_docling_tableformer_onnx_spark.queries import QUERIES

    plan = _executed_plan(QUERIES["cube_revenue"](spark, "/root/testdata/sf0.001"))
    assert "Expand" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("FileScan") == 2  # orders once, customer once


def test_merge_upsert_is_one_key_equijoin(spark):
    """MERGE-style upsert: full-outer SortMergeJoin on the key, no
    nested-loop fallback, no driver-side plan."""
    from ds4sd_docling_tableformer_onnx_spark.queries import QUERIES

    plan = _executed_plan(QUERIES["merge_upsert"](spark, "/root/testdata/sf0.001"))
    assert "SortMergeJoin" in plan and "FullOuter" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_key_skew_profile_shuffles_only_distinct_keys(spark):
    """Skew profile: the per-key count Exchange plus the tiny bucket
    agg — the 1-row total rides a broadcast, nothing corpus-sized
    reaches the driver."""
    from ds4sd_docling_tableformer_onnx_spark.queries import QUERIES

    plan = _executed_plan(QUERIES["key_skew_profile"](spark, "/root/testdata/sf0.001"))
    # per-key agg + bucket agg + single-partition total + its broadcast;
    # never a sort, and the per-key agg is computed exactly once
    assert plan.count("Exchange") <= 4
    assert "Sort " not in plan
    assert plan.count("hashpartitioning(user_id") == 1


def test_pmi_topk_never_global_sorts(spark):
    """PMI top-50 is a TakeOrdered, not Sort+single-partition Exchange;
    unigram joins carry no broadcast HINT (AQE decides — vocab-sized
    sides must be allowed to shuffle at corpus scale)."""
    from ds4sd_docling_tableformer_onnx_spark.queries import QUERIES

    df = QUERIES["pmi_collocations"](spark, "/root/testdata/sf0.001")
    plan = _executed_plan(df)
    assert "TakeOrderedAndProject" in plan
    opt = _optimized_plan(df)
    # the only hint-pinned broadcast is the 1-row corpus total
    assert opt.count("ResolvedHint") <= 1


def test_partition_pruned_read(spark):
    """The lang predicate on the partitioned copy is satisfied by
    DIRECTORY pruning: it appears in the scan's PartitionFilters and
    the data files contribute no lang column at all."""
    from ds4sd_docling_tableformer_onnx_spark.queries import QUERIES

    df = QUERIES["partitioned_write_prune"](spark, "/root/testdata/sf0.001")
    plan = _executed_plan(df)
    scan = next(
        line for line in plan.splitlines() if "FileScan parquet" in line
    )
    import re

    pf = scan.split("PartitionFilters: [")[1].split("]")[0]
    assert re.search(r"lang#\d+ IN \(de,fr\)", pf), pf


def test_bucketed_join_is_shuffle_free(spark):
    """Both sides bucketed by the join key: the SortMergeJoin consumes
    the scans directly — the ONLY Exchange in the plan is the final
    rollup, and there is no Exchange on either join key."""
    from ds4sd_docling_tableformer_onnx_spark.queries import QUERIES

    df = QUERIES["bucketed_colocated_join"](spark, "/root/testdata/sf0.001")
    plan = _executed_plan(df)
    assert "SortMergeJoin" in plan
    assert plan.count("Exchange") == 1
    assert "hashpartitioning(o_custkey" not in plan
    assert "hashpartitioning(c_custkey" not in plan


def test_triangle_count_never_cartesian(spark):
    """Wedge join + closure join are equi-joins; hub exclusion rides
    anti-joins — no nested-loop anywhere despite the self-joins."""
    from ds4sd_docling_tableformer_onnx_spark.queries import QUERIES

    df = QUERIES["triangle_count"](spark, "/root/testdata/sf0.001")
    plan = _executed_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bigram_logprob_no_hints_no_window(spark):
    """Vocab-sized sides are never hint-broadcast and the per-doc sum
    is an aggregation, not a window."""
    from ds4sd_docling_tableformer_onnx_spark.queries import QUERIES

    df = QUERIES["bigram_logprob"](spark, "/root/testdata/sf0.001")
    assert "ResolvedHint" not in _optimized_plan(df)
    assert "Window" not in _executed_plan(df)
