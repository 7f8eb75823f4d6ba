"""Dedup / similarity / multimodal operators + streaming extraction."""

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_simhash_near_dup_detects_clones(spark):
    from ds4sd_docling_tableformer_onnx_spark.operators.dedup import (
        simhash_candidates,
        simhash_column,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog tonight"),  # near-dup
        (3, "completely different words about spark partitions and shuffles"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    hashed = simhash_column(df)
    sigs = {r["doc_id"]: r["simhash"] for r in hashed.collect()}
    assert sigs[1] != 0
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in simhash_candidates(hashed).collect()}
    assert (1, 2) in pairs
    assert pairs[(1, 2)] <= 12
    # identical text -> identical signature, hamming 0
    clone = spark.createDataFrame([(9, rows[0][1]), (10, rows[0][1])], "doc_id long, text string")
    cp = simhash_candidates(simhash_column(clone)).collect()
    assert cp and cp[0]["hamming"] == 0


def test_simhash_signature_regression(spark):
    """Fixed-vector pins: the vectorized batch UDF must reproduce the
    scalar md5-majority definition bit-for-bit (guards the numpy
    rewrite), including empty and repeated-word inputs — and the
    RE2-class tokenization must hold against Unicode whitespace and
    \\x0b (NBSP and vertical tab join a token rather than splitting it,
    matching the DuckDB oracle's RE2 ``\\s+`` on any corpus)."""
    import hashlib
    import re

    from ds4sd_docling_tableformer_onnx_spark.operators.dedup import simhash_column

    ws = re.compile(r"[\t\n\f\r ]+")  # RE2 \s spelled out (no \x0b)

    def scalar_ref(text, bits=64):
        if not text:
            return 0
        acc = [0] * bits
        for word in set(ws.split(text)) - {""}:
            h = int.from_bytes(hashlib.md5(word.encode()).digest()[:8], "big")
            for b in range(bits):
                acc[b] += 1 if (h >> b) & 1 else -1
        sig = 0
        for b in range(bits):
            if acc[b] > 0:
                sig |= 1 << b
        return sig - (1 << 64) if sig >= (1 << 63) else sig

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "spark shuffles partition data across executors"),
        (3, ""),
        (4, None),
        (5, "dup dup dup single"),
        (6, "nbsp joined stays one-token"),  # Unicode ws NOT a split
        (7, "  "),  # only Unicode ws -> one 2-char token, not sig 0
        (8, "fsjoined stays one"),  # ASCII \x1c: str.split ws, NOT RE2 \s
        (9, "vt\x0bjoined stays one"),  # \x0b: Python \s ws, NOT RE2 \s
        (10, "\x0b\x0b"),  # only \x0b -> one 2-char token, not sig 0
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["simhash"] for r in simhash_column(df).collect()}
    assert got[1] == 1140598971862558276  # literal pin
    assert got[2] == 4716134343596349080  # literal pin
    assert got[6] == scalar_ref("nbsp joined stays one-token")
    assert "nbsp joined" in ws.split(rows[5][1])  # the pin's premise
    assert got[7] != 0  # Python str.split() would have produced 0
    assert got[10] != 0  # re.ASCII \s would have produced 0 (r4 advice)
    for doc_id, text in rows:
        assert got[doc_id] == scalar_ref(text or "")


def test_simhash_banding_pigeonhole_property(spark):
    """Property: ANY pair within hamming distance 3 must surface as a
    candidate (3 flips cannot touch all 4 bands).  Signatures are drawn
    over the full signed-64-bit range — this is the guard for the band-0
    sign bug the oracle caught (negative signatures split buckets under
    a signed %)."""
    import random

    from ds4sd_docling_tableformer_onnx_spark.operators.dedup import (
        simhash_candidates,
    )

    rng = random.Random(123)

    def as_signed(u):
        return u - (1 << 64) if u >= (1 << 63) else u

    rows = []
    planted = []
    doc_id = 0
    for _ in range(60):
        base = rng.getrandbits(64) | (1 << 63) * rng.randint(0, 1)
        flipped = base
        for bit in rng.sample(range(64), rng.randint(0, 3)):
            flipped ^= 1 << bit
        rows.append((doc_id, as_signed(base)))
        rows.append((doc_id + 1, as_signed(flipped)))
        planted.append((doc_id, doc_id + 1, bin(base ^ flipped).count("1")))
        doc_id += 2
    df = spark.createDataFrame(rows, "doc_id long, simhash long")
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_candidates(df).collect()
    }
    for id_a, id_b, hamming in planted:
        if hamming == 0 or hamming <= 3:
            assert got[(id_a, id_b)] == hamming
    # no pair appears twice (each pair joins only on its lowest shared band)
    pairs = [
        (r["id_a"], r["id_b"]) for r in simhash_candidates(df).collect()
    ]
    assert len(pairs) == len(set(pairs))


def test_media_real_decode_gate():
    """decode_stub=False must route to the real-codec loader, whose gate
    is functional (a smoke decode of a known 1x1 PNG): a missing — or,
    as in this suite, sys.modules-stubbed — imaging stack raises the
    clear NotImplementedError; a genuinely working one returns a correct
    pixel-histogram decoder."""
    import pytest

    from ds4sd_docling_tableformer_onnx_spark.operators.multimodal import (
        _real_decoder,
        _tiny_png,
    )

    try:
        decode = _real_decoder()
    except NotImplementedError as exc:
        assert "decode_stub=True" in str(exc)
        return
    # real imaging stack present: the decode must be correct
    feature = decode(_tiny_png(200))
    assert len(feature) == 16 and abs(sum(feature) - 1.0) < 1e-9
    assert feature[200 // 16] == 1.0


def test_lsh_ann_recall_on_clustered_data(spark):
    """LSH recall is a property of data structure: on clustered
    embeddings (the realistic near-dup corpus shape) the bucketed probe
    must recover most of the exact top-k; on the uniform-random sf
    corpus no sublinear method can, and there the LSH path is instead
    value-checked bit-for-bit by the DuckDB oracle (lsh_ann_topk)."""
    import numpy as np

    from ds4sd_docling_tableformer_onnx_spark.operators.similarity import (
        cosine_topk,
        lsh_bucketed_topk,
    )

    rng = np.random.default_rng(3)
    centers = rng.standard_normal((16, 64))
    rows = []
    vid = 1
    for c in range(16):
        for _ in range(20):
            v = centers[c] + 0.25 * rng.standard_normal(64)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    query = [float(x) for x in centers[0] + 0.25 * rng.standard_normal(64)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    exact = [r["vec_id"] for r in cosine_topk(emb, query, k=10).collect()]
    approx = [
        r["vec_id"]
        for r in lsh_bucketed_topk(emb, query, k=10, multiprobe=2).collect()
    ]
    assert len(approx) == 10
    assert len(set(exact) & set(approx)) >= 7  # recall@10 >= 0.7


def test_lsh_planes_are_hash_derived_and_stable(spark):
    """The hyperplanes must be reproducible from the seed alone (that is
    what makes the DuckDB oracle able to replicate the whole path)."""
    import hashlib

    from ds4sd_docling_tableformer_onnx_spark.operators.similarity import (
        hash_planes,
    )

    w = hash_planes(4, 2, seed=42)
    digest = hashlib.md5(b"42#0#0").digest()
    expect = int.from_bytes(digest[:8], "big") / 2.0**64 * 2.0 - 1.0
    assert w[0, 0] == expect
    assert (hash_planes(4, 2, seed=42) == w).all()
    assert (hash_planes(4, 2, seed=43) != w).any()
    assert abs(float(w.mean())) < 0.5 and w.min() >= -1.0 and w.max() < 1.0


def test_media_feature_stub_plumbing(spark):
    from ds4sd_docling_tableformer_onnx_spark.operators.multimodal import (
        extract_media_features,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(20).select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("blob")
    )
    feats = extract_media_features(docs, "doc_id", "blob").collect()
    assert len(feats) == 20
    assert all(len(r["feature"]) == 16 for r in feats)
    assert all(abs(sum(r["feature"]) - 1.0) < 1e-9 for r in feats if r["ok"])
    # deterministic: same input -> same features
    again = extract_media_features(docs, "doc_id", "blob").collect()
    assert sorted(map(str, feats)) == sorted(map(str, again))


def test_streaming_extraction_matches_batch(spark, tmp_path):
    from ds4sd_docling_tableformer_onnx_spark.operators.extract import (
        extract_transcripts,
    )
    from ds4sd_docling_tableformer_onnx_spark.sources.transcripts import (
        generate_transcripts,
    )
    from ds4sd_docling_tableformer_onnx_spark.streaming.stream import (
        run_to_completion,
        stream_extract,
    )

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    df = generate_transcripts(spark, n_turns=80, n_convs=4, seed=5)
    df.write.parquet(in_dir)

    run_to_completion(stream_extract(spark, in_dir), out_dir, ckpt)
    streamed = spark.read.parquet(out_dir)
    batch = extract_transcripts(spark.read.parquet(in_dir))

    assert streamed.count() == 80
    s = {(r["conv_id"], r["turn_idx"]): r["html_sha256"] for r in streamed.collect()}
    b = {(r["conv_id"], r["turn_idx"]): r["html_sha256"] for r in batch.collect()}
    assert s == b  # identical results batch vs streaming

    # restart with the same checkpoint: no new input -> no duplicates
    run_to_completion(stream_extract(spark, in_dir), out_dir, ckpt)
    assert spark.read.parquet(out_dir).count() == 80


def test_ivf_topk_recall(spark):
    """IVF (coarse k-means + nprobe lists) must recover most of the exact
    cosine top-10 while scoring only a fraction of the corpus."""
    from pyspark.sql import functions as F

    from ds4sd_docling_tableformer_onnx_spark.operators.similarity import (
        cosine_topk,
        ivf_assign,
        ivf_topk,
        train_ivf_centroids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    query = emb.where("vec_id = 0").select("embedding").first()[0]
    rest = emb.where("vec_id > 0")

    exact = [r["vec_id"] for r in cosine_topk(rest, query, k=10).collect()]
    cents = train_ivf_centroids(rest, n_lists=8, seed=7)
    approx = [
        r["vec_id"]
        for r in ivf_topk(rest, query, k=10, n_lists=8, nprobe=6, centroids=cents).collect()
    ]
    # nprobe=6 of 8 on this structure-free corpus: 10/10 measured, so a
    # >=0.7 floor carries real margin
    assert len(set(exact) & set(approx)) >= 7  # recall@10 >= 0.7

    # the probe prunes: every candidate list is much smaller than the corpus
    sizes = (
        ivf_assign(rest, cents).groupBy("ivf_list").agg(F.count("*").alias("n"))
    ).collect()
    assert len(sizes) >= 4
    assert max(r["n"] for r in sizes) < rest.count()


# ---------------------------------------------------------------------------
# Connected components / dedup groups (operators/graph.py)
# ---------------------------------------------------------------------------

def test_connected_components_basic(spark):
    from ds4sd_docling_tableformer_onnx_spark.operators.graph import (
        connected_components,
    )

    # two components: a 4-chain {1,2,3,4} and a triangle {10,11,12}
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (12, 10), (5, 5)],
        "src long, dst long",
    )
    comp = {r["id"]: r["comp"] for r in connected_components(edges).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10}
    # the self-loop-only node 5 has no real edge: dropped from the
    # component table (dedup_groups restores isolated ids)
    assert 5 not in comp


def test_connected_components_long_chain_and_cap(spark):
    from ds4sd_docling_tableformer_onnx_spark.operators.graph import (
        connected_components,
    )

    # a 12-node path needs ~11 propagation hops
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(11)], "src long, dst long"
    )
    comp = {r["id"]: r["comp"] for r in connected_components(edges).collect()}
    assert set(comp.values()) == {0} and len(comp) == 12

    # the distributed loop (driver finish disabled) must agree with the
    # bounded driver union-find path exactly
    loop_comp = {
        r["id"]: r["comp"]
        for r in connected_components(edges, driver_finish_edges=0).collect()
    }
    assert loop_comp == comp

    import pytest as _pytest

    # non-convergence guard lives in the loop path: cap it explicitly
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iter=3, driver_finish_edges=0)


def test_dedup_groups_covers_isolated_ids(spark):
    from pyspark.sql import functions as F

    from ds4sd_docling_tableformer_onnx_spark.operators.graph import dedup_groups

    ids = spark.range(8).select(F.col("id").alias("doc_id"))
    edges = spark.createDataFrame(
        [(0, 3), (3, 5), (1, 2)], "id_a long, id_b long"
    )
    rows = {r["doc_id"]: (r["group_id"], r["group_size"]) for r in
            dedup_groups(ids, edges).collect()}
    assert rows[0] == rows[3] == rows[5] == (0, 3)
    assert rows[1] == rows[2] == (1, 2)
    for iso in (4, 6, 7):
        assert rows[iso] == (iso, 1)
    assert len(rows) == 8


def test_pagerank_matches_python_reference(spark):
    """pagerank on a small asymmetric graph equals a plain-Python
    implementation of the same fixed-iteration update, and the total
    rank mass is conserved (no dangling nodes in a symmetric graph)."""
    from ds4sd_docling_tableformer_onnx_spark.operators.graph import pagerank

    # path 1-2-3 plus a triangle 4-5-6 bridged at 3-4
    raw = [(1, 2), (2, 3), (4, 5), (5, 6), (4, 6), (3, 4)]
    edges = spark.createDataFrame(raw, "src long, dst long")
    got = {
        r["id"]: r["r"]
        for r in pagerank(edges, iterations=5, damping=0.85).collect()
    }

    # reference: same synchronous update in pure Python
    adj = {}
    for a, b in raw:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    n = len(adj)
    r = {v: 1.0 / n for v in adj}
    for _ in range(5):
        r = {
            v: (1 - 0.85) / n + 0.85 * sum(r[u] / len(adj[u]) for u in adj[v])
            for v in adj
        }
    assert set(got) == set(r)
    for v in r:
        assert abs(got[v] - r[v]) < 1e-12
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_semantic_dedup_constructed_clusters(spark):
    """Two well-separated direction clusters with planted near-dups:
    the canonical min-id row of each near-dup set survives, singletons
    survive, and the output partitions the input."""
    from ds4sd_docling_tableformer_onnx_spark.operators.similarity import (
        semantic_dedup,
    )

    rows = []
    # cluster around +x: ids 0-3 nearly parallel (near-dups), id 4 tilted
    for i in range(4):
        rows.append((i, [1.0, 0.01 * i, 0.0]))
    rows.append((4, [0.5, 0.0, 0.86]))  # same half-space, low cosine to x
    # cluster around +y: ids 10-12 near-dups, id 13 tilted
    for i in range(3):
        rows.append((10 + i, [0.01 * i, 1.0, 0.0]))
    rows.append((13, [0.0, 0.5, -0.86]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    res = semantic_dedup(df, threshold=0.9, n_lists=2, seed=3)
    rows_out = res.collect()
    got = {r["id"]: r["kept"] for r in rows_out}
    assert len(got) == len(rows)
    assert not any(r["capped"] for r in rows_out)  # no cluster hit the cap
    # min id of each parallel group survives; the rest drop
    assert got[0] and not (got[1] or got[2] or got[3])
    assert got[10] and not (got[11] or got[12])
    # tilted singletons survive regardless of cluster
    assert got[4] and got[13]


def test_semantic_dedup_cluster_cap_guard(spark):
    """max_cluster_rows: oversized clusters are excluded from pair
    scoring — their rows all stay kept (loud log, no quadratic join)."""
    from ds4sd_docling_tableformer_onnx_spark.operators.similarity import (
        semantic_dedup,
    )

    rows = [(i, [1.0, 0.001 * i]) for i in range(12)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    res = semantic_dedup(df, threshold=0.9, n_lists=1, seed=3, max_cluster_rows=5)
    rows_out = res.collect()
    got = {r["id"]: r["kept"] for r in rows_out}
    assert all(got.values())  # every row kept: the one cluster was capped
    # the capped flag is how verifiers mirror the exclusion (r4 advice)
    assert all(r["capped"] for r in rows_out)


def test_quality_classifier_generalizes_vocab(spark):
    """Planted vocabulary separation: a naive-Bayes model trained on
    labeled docs must score UNSEEN docs written in the good vocabulary
    positive and bad-vocabulary docs negative — the weak-label
    generalization the curate stage relies on."""
    from ds4sd_docling_tableformer_onnx_spark.operators.classifier import (
        quality_scores,
        train_quality_weights,
    )

    good_words = "clear prose sentence reads naturally informative".split()
    bad_words = "zzspam clickzz herezz buyzz nowzz winzz".split()
    rows = []
    for i in range(20):
        rows.append((i, " ".join(good_words[i % 3 :] + good_words), True))
        rows.append((100 + i, " ".join(bad_words[i % 3 :] + bad_words), False))
    train = spark.createDataFrame(rows, "doc_id long, text string, label boolean")
    weights = train_quality_weights(train, n_buckets=256)
    assert len(weights) == 256 and all(isinstance(w, int) for w in weights)

    unseen = spark.createDataFrame(
        [
            (1000, "informative prose reads clear"),
            (1001, "buyzz winzz clickzz nowzz"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["q_score"]
        for r in quality_scores(unseen, weights).collect()
    }
    assert got[1000] > 0 and got[1001] < 0


def test_quality_weights_ship_as_one_folded_literal(spark):
    """The 1,024 weights enter the plan as one JSON string literal,
    which Spark folds into an array literal: every score on the sf0.01
    documents equals the integer sum computed in Python, and the
    optimized plan holds no ``from_json``."""
    import hashlib

    from ds4sd_docling_tableformer_onnx_spark.operators.classifier import (
        quality_scores,
        train_quality_weights,
    )
    from tests.test_widen_gc import SF as SF001

    docs = spark.read.parquet(f"{SF001}/documents.parquet").where(
        F.col("text").isNotNull()
    )
    weights = train_quality_weights(
        docs.withColumn("label", F.col("doc_id") % 2 == 0), n_buckets=1024
    )
    scored = quality_scores(docs, weights)

    def py_score(text):
        return sum(
            weights[int(hashlib.md5(w.encode("utf-8")).hexdigest()[:8], 16) % 1024]
            for w in text.split(" ")
        )

    rows = scored.select("text", "q_score").collect()
    assert rows and all(r["q_score"] == py_score(r["text"]) for r in rows)
    plan = scored._jdf.queryExecution().optimizedPlan().toString()
    assert "from_json" not in plan


def test_query_literals_ship_as_one_folded_literal(spark):
    """``q_dsir_resample``'s 1,024 scores and ``cosine_topk``'s query
    vector enter the plan as one JSON string literal each, which Spark
    folds: neither optimized plan holds a ``from_json``."""
    from ds4sd_docling_tableformer_onnx_spark.operators.similarity import cosine_topk
    from ds4sd_docling_tableformer_onnx_spark.queries import q_dsir_resample
    from tests.test_widen_gc import SF as SF001

    def optimized(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.6, 0.8]), (3, [0.0, 1.0])],
        "vec_id int, embedding array<float>",
    )
    top = cosine_topk(emb, [0.2, 0.9], k=2)
    assert [r["vec_id"] for r in top.collect()] == [3, 2]
    assert "from_json" not in optimized(top)
    assert "from_json" not in optimized(q_dsir_resample(spark, SF001))


def test_bloom_prefilter_guarantees(spark):
    """No false negatives ever; false positives bounded well below the
    worst case on novel keys."""
    from ds4sd_docling_tableformer_onnx_spark.operators.dedup import (
        bloom_prefilter,
    )

    build = spark.createDataFrame(
        [(i, f"key-{i}") for i in range(200)], "id long, text string"
    )
    probe = spark.createDataFrame(
        [(i, f"key-{i}") for i in range(0, 200, 2)]  # 100 true dups
        + [(1000 + i, f"novel-{i}") for i in range(100)]  # 100 novel
        # FULLY duplicated probe rows (same id AND key): a probe shard
        # containing exact duplicate records must still flag every copy
        # (regression: grouping hits by the row's value tuple doubled
        # the count and cleared maybe_dup — a false negative)
        + [(4, "key-4"), (4, "key-4")],
        "id long, text string",
    )
    rows = bloom_prefilter(build, probe).collect()
    flagged = {r["id"]: r["maybe_dup"] for r in rows}
    dup_ids = [i for i in range(0, 200, 2)]
    novel_ids = [1000 + i for i in range(100)]
    assert all(flagged[i] for i in dup_ids)  # bloom: no false negatives
    assert all(r["maybe_dup"] for r in rows if r["id"] == 4)  # all 3 copies
    assert sum(1 for r in rows if r["id"] == 4) == 3  # no row collapsed
    fps = sum(flagged[i] for i in novel_ids)
    assert fps <= 10  # ~0.8% theoretical at k=7 b=10; 10% hard bound
    # determinism: hash-derived positions, not RNG
    again = {r["id"]: r["maybe_dup"] for r in bloom_prefilter(build, probe).collect()}
    assert again == flagged
