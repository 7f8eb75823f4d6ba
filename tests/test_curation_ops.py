"""Invariant tests for the round-4 curation operators (the value-level
Spark-vs-DuckDB equivalence runs in scripts/check_oracles.py; these pin
the semantic properties the hash compare cannot express)."""

from pyspark.sql import functions as F

from ds4sd_docling_tableformer_onnx_spark.queries import (
    _CHUNK_LEN,
    _CHUNK_STRIDE,
    _DSIR_TOPK,
    QUERIES,
)

SF = "/root/testdata/sf0.001"


def test_chunks_tile_every_document(spark):
    """Chunk starts advance by exactly the stride from 0, every chunk is
    min(CHUNK_LEN, n - start) tokens, and the final chunk reaches the
    last token — full coverage with the designed overlap, no gaps."""
    chunks = QUERIES["chunk_documents"](spark, SF).toPandas()
    docs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", F.size(F.split("text", " ", -1)).alias("n"))
        .toPandas()
        .set_index("doc_id")["n"]
    )
    assert set(chunks["doc_id"]) == set(docs.index)  # every doc chunked
    for doc_id, grp in chunks.groupby("doc_id"):
        n = int(docs[doc_id])
        grp = grp.sort_values("chunk_idx")
        assert list(grp["chunk_idx"]) == list(range(len(grp)))
        assert list(grp["start_tok"]) == [i * _CHUNK_STRIDE for i in range(len(grp))]
        assert all(
            int(r.n_tok) == min(_CHUNK_LEN, n - int(r.start_tok))
            for r in grp.itertuples()
        )
        last = grp.iloc[-1]
        assert int(last.start_tok) + int(last.n_tok) == n  # reaches the end
        assert int(last.start_tok) <= n - 1  # no empty trailing chunk


def test_cluster_split_never_straddles(spark):
    """The leakage-safety invariant: every near-dup component lands
    entirely on one side of the split."""
    frame = QUERIES["cluster_split"](spark, SF)
    pdf = frame.toPandas()
    assert set(pdf["split"]) == {"train", "holdout"}
    straddle = pdf.groupby("group_id")["split"].nunique()
    assert (straddle == 1).all()
    frac = (pdf["split"] == "holdout").mean()
    assert 0.02 < frac < 0.25  # ~10% by hash, wide tolerance at 500 docs


def test_dsir_topk_shape_and_order(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    n_src = docs.where(F.col("doc_id") % 43 != 0).count()
    pdf = QUERIES["dsir_resample"](spark, SF).toPandas()
    assert len(pdf) == min(_DSIR_TOPK, n_src)
    w = list(pdf["weight"])
    assert w == sorted(w, reverse=True)  # limit() kept the top slice
    assert pdf["weight"].dtype.kind == "i"  # exact integer weights


def test_ccnet_buckets_are_ordered_terciles(spark):
    """Within every language: every head score >= every middle score >
    every tail score, and head holds at least ceil(n/3) docs (the
    tie-inclusive discrete-threshold rule)."""
    import math

    frame = QUERIES["ccnet_buckets"](spark, SF)
    pdf = frame.toPandas()
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    assert len(pdf) == docs.count()  # every doc bucketed exactly once
    for lang, grp in pdf.groupby("lang"):
        n = len(grp)
        head = grp[grp["bucket"] == "head"]["s_int"]
        mid = grp[grp["bucket"] == "middle"]["s_int"]
        tail = grp[grp["bucket"] == "tail"]["s_int"]
        assert len(head) >= math.ceil(n / 3)
        if len(head) and len(mid):
            assert mid.max() < head.min()
        if len(mid) and len(tail):
            assert tail.max() < mid.min()


def test_global_shuffle_is_a_permutation(spark):
    pdf = QUERIES["global_shuffle"](spark, SF).toPandas()
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id").toPandas()
    assert sorted(pdf["doc_id"]) == sorted(docs["doc_id"])  # bijection
    for _, grp in pdf.groupby("shard"):
        assert sorted(grp["pos"]) == list(range(len(grp)))  # dense slots


def test_stream_exact_dedup_suppresses_cross_batch_dups(spark):
    """Planted re-labeled copies (batch 2) of batch-1 docs never win:
    every key is emitted exactly once, keepers prefer the earliest
    batch, and no planted id (>= 1000000) survives."""
    pdf = QUERIES["stream_exact_dedup"](spark, SF).toPandas()
    n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert len(pdf) == n_docs  # all texts distinct -> one keeper each
    assert pdf["text_md5"].is_unique
    assert (pdf["keeper_id"] < 1000000).all()  # planted dups suppressed
    # keys seen first in batch 1 (even ids) keep their even id
    evens = pdf[pdf["keeper_id"] % 2 == 0]
    assert len(evens) == n_docs // 2


def test_dedup_substrings_removal_semantics(spark):
    """Untouched docs hash to their original single-space re-join;
    touched docs hash to something else; removal counts are bounded by
    doc length."""
    import hashlib

    frame = QUERIES["dedup_substrings"](spark, SF)
    pdf = frame.toPandas()
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text").toPandas()
    merged = pdf.merge(docs, on="doc_id")
    assert len(merged) == len(docs)
    assert (merged["n_removed"] <= merged["n_tokens"]).all()
    assert (merged["n_removed"] > 0).any()  # the corpus does contain dups
    for r in merged.itertuples():
        orig = hashlib.md5(" ".join(r.text.split(" ")).encode()).hexdigest()
        if r.n_removed == 0:
            assert r.kept_md5 == orig
        elif r.n_removed == r.n_tokens:
            assert r.kept_md5 == hashlib.md5(b"").hexdigest()
        else:
            assert r.kept_md5 != orig


def test_scd2_intervals_are_contiguous_and_dense(spark):
    pdf = QUERIES["scd2_dimension"](spark, SF).toPandas()
    for user, grp in pdf.groupby("user_id"):
        grp = grp.sort_values("version").reset_index(drop=True)
        assert list(grp["version"]) == list(range(1, len(grp) + 1))  # dense
        # contiguous validity chain, exactly one open (current) version
        for i in range(len(grp) - 1):
            assert grp.loc[i, "valid_to_us"] == grp.loc[i + 1, "valid_from_us"]
            assert not grp.loc[i, "is_current"]
            # a new version exists only because the attribute changed
            assert grp.loc[i, "event_type"] != grp.loc[i + 1, "event_type"]
        assert grp.iloc[-1]["valid_to_us"] == -1
        assert bool(grp.iloc[-1]["is_current"])


def test_contrastive_triplets_are_well_formed(spark):
    frame = QUERIES["contrastive_triplets"](spark, SF)
    pdf = frame.toPandas()
    assert len(pdf) > 0
    assert pdf["anchor_id"].is_unique  # one triplet per anchor
    assert (pdf["pos_id"] != pdf["anchor_id"]).all()
    assert (pdf["neg_id"] != pdf["anchor_id"]).all()
    assert (pdf["neg_id"] != pdf["pos_id"]).all()
    # positives are symmetric: if a anchors b as positive, b is also an
    # anchor (it has a near-dup by construction)
    assert set(pdf["pos_id"]) <= set(pdf["anchor_id"])


def test_tfidf_keywords_rank_semantics(spark):
    from ds4sd_docling_tableformer_onnx_spark.queries import _TFIDF_K

    pdf = QUERIES["tfidf_keywords"](spark, SF).toPandas()
    # compare against the query's contract: non-null-text docs only
    docs = spark.read.parquet(f"{SF}/documents.parquet").where(
        "text IS NOT NULL"
    )
    assert set(pdf["doc_id"]) == set(r["doc_id"] for r in docs.select("doc_id").collect())
    for _, grp in pdf.groupby("doc_id"):
        grp = grp.sort_values("rank")
        assert list(grp["rank"]) == list(range(1, len(grp) + 1))
        assert len(grp) <= _TFIDF_K
        s = list(grp["score_int"])
        assert s == sorted(s, reverse=True)  # ranks follow scores


def test_source_quota_sample_matches_single_window(spark):
    """The skew-safe two-phase plan must EQUAL the naive one-window
    rank (the property the oracle checks, asserted here independently
    of DuckDB), every source capped at the quota, ranks dense from 1."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ds4sd_docling_tableformer_onnx_spark.functions.sampling import u32_md5
    from ds4sd_docling_tableformer_onnx_spark.queries import _QUOTA_N

    pdf = (
        QUERIES["source_quota_sample"](spark, SF)
        .toPandas()
        .sort_values(["source", "quota_rank"])
        .reset_index(drop=True)
    )
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    naive = (
        docs.where(F.col("source").isNotNull())
        .select("doc_id", "source", u32_md5("doc_id").alias("h"))
        .withColumn(
            "quota_rank",
            F.row_number()
            .over(Window.partitionBy("source").orderBy("h", "doc_id"))
            .cast("long"),
        )
        .where(F.col("quota_rank") <= _QUOTA_N)
        .select("doc_id", "source", "quota_rank")
        .toPandas()
        .sort_values(["source", "quota_rank"])
        .reset_index(drop=True)
    )
    assert pdf.equals(naive)
    counts = pdf.groupby("source")["quota_rank"].agg(["size", "min", "max"])
    assert (counts["size"] <= _QUOTA_N).all()
    assert (counts["min"] == 1).all()
    assert (counts["max"] == counts["size"]).all()


def test_lang_temperature_sample_flattens_distribution(spark):
    """alpha=1/2 rebalance: the rarest language keeps ~everything
    (threshold is exactly 2^32), larger languages keep ~sqrt(n_min/n)
    of their docs, and kept counts are hash-deterministic."""
    import math

    from ds4sd_docling_tableformer_onnx_spark.functions.sampling import (
        sqrt_rebalance_thresholds,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    counts = {
        r["lang"]: r["cnt"]
        for r in docs.where(F.col("lang").isNotNull())
        .groupBy("lang")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    thr = sqrt_rebalance_thresholds(counts)
    mn = min(counts.values())
    assert thr[min(counts, key=counts.get)] == 1 << 32  # rarest keeps all
    pdf = QUERIES["lang_temperature_sample"](spark, SF).toPandas()
    kept = pdf.groupby("lang").size()
    for lang, n in counts.items():
        expect = n * math.sqrt(mn / n)
        # md5-uniform binomial-ish tolerance at tiny sf
        assert abs(kept.get(lang, 0) - expect) <= 3 * math.sqrt(expect) + 2, lang


def test_csv_bridge_survives_hostile_content(spark, tmp_path):
    """The sf corpora contain no delimiters/quotes/newlines, so the
    csv_roundtrip oracle alone can't prove the dialect is lossless —
    this plants them: embedded commas, double quotes, CRLF/LF
    newlines, leading zeros, unicode, empty string and NULL all
    round-trip byte-exactly under the SAME option dicts the query
    uses."""
    from ds4sd_docling_tableformer_onnx_spark.queries import (
        _CSV_READ_OPTS,
        _CSV_WRITE_OPTS,
    )

    rows = [
        (1, 'a,b,"c" d', "en"),
        (2, "line1\nline2\r\nline3", "de"),
        (3, '","', "fr"),
        (4, "0042 héllo ✓ \t tab", "ja"),
        (5, "", "en"),
        (6, None, "en"),
        (7, '"""', "en"),
        (8, "\\N", "en"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = str(tmp_path / "csv")
    df.coalesce(1).write.options(**_CSV_WRITE_OPTS).csv(out)
    back = (
        spark.read.options(**_CSV_READ_OPTS)
        .schema("doc_id long, text string, lang string")
        .csv(out)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    want = df.toPandas().sort_values("doc_id").reset_index(drop=True)
    # NULL and '' are now DISTINCT through the bridge (nullValue=\N);
    # the ONE residual coercion, inherent to sentinel CSV nulls: a
    # literal \N text value reads back as NULL
    want.loc[want["text"] == "\\N", "text"] = None
    assert back.equals(want)
    assert back.loc[back["doc_id"] == 5, "text"].iloc[0] == ""
    assert back.loc[back["doc_id"] == 6, "text"].isna().iloc[0]


def test_winnow_guarantee_and_tie_rule(spark):
    """The winnowing theorem: two docs sharing a word run of length
    >= w + k - 1 share at least one fingerprint at the corresponding
    positions; and on hash ties inside a window the RIGHTMOST minimum
    is selected (a doc of one repeated word selects position i+w-1 of
    each window, never position i)."""
    from ds4sd_docling_tableformer_onnx_spark.operators.dedup import (
        winnow_fingerprints,
    )

    k = w = 4
    shared = "lorem ipsum dolor sit amet consectetur adipiscing"  # 7 = w+k-1
    rows = [
        (1, "aa bb cc " + shared + " dd ee"),
        (2, "zz yy " + shared + " xx ww vv uu"),
        (3, " ".join(["rep"] * 12)),  # all grams identical -> all ties
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pdf = winnow_fingerprints(df, k=k, w=w).toPandas()
    f1 = set(pdf[pdf.doc_id == 1]["fp"])
    f2 = set(pdf[pdf.doc_id == 2]["fp"])
    assert f1 & f2, "shared w+k-1 run must share a fingerprint"
    ties = pdf[pdf.doc_id == 3]
    # 12 words -> 9 identical gram hashes -> 6 windows, every window's
    # rightmost-min is its LAST slot: selections are positions 4..9
    assert sorted(ties["pos"]) == list(range(w, 10))
    assert ties["fp"].nunique() == 1
