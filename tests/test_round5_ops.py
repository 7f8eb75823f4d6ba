"""Invariant tests for the round-5 operators (value-level Spark-vs-
DuckDB equivalence runs in scripts/check_oracles.py; these pin the
semantic properties the hash compare cannot express)."""

from pyspark.sql import functions as F

from ds4sd_docling_tableformer_onnx_spark.queries import (
    _CTX_BUDGET_CHARS,
    _CTXW_K,
    _CTXW_STRIDE,
    _PMI_TOPK,
    QUERIES,
)

SF = "/root/testdata/sf0.001"


def test_context_windows_cover_every_turn(spark):
    """Every conversation turn falls in >=1 window, starts advance by
    exactly the stride from 0, and window sizes are min(K, n-start)."""
    wins = QUERIES["context_windows"](spark, SF).toPandas()
    n_turns = (
        spark.read.parquet(f"{SF}/events.parquet")
        .groupBy("user_id")
        .count()
        .toPandas()
        .set_index("user_id")["count"]
    )
    assert set(wins["user_id"]) == set(n_turns.index)
    for uid, grp in wins.groupby("user_id"):
        n = int(n_turns[uid])
        grp = grp.sort_values("win_start")
        assert list(grp["win_start"]) == [
            i * _CTXW_STRIDE for i in range(len(grp))
        ]
        assert all(
            int(r.n_in_window) == min(_CTXW_K, n - int(r.win_start))
            for r in grp.itertuples()
        )
        last = grp.iloc[-1]
        # the last window reaches the final turn
        assert int(last.win_start) + int(last.n_in_window) == n


def test_chat_template_budget_and_flag(spark):
    """rendered is the exact prefix of the full conversation string at
    the context budget; `truncated` is true iff content was lost."""
    pdf = QUERIES["chat_template_render"](spark, SF).toPandas()
    assert (pdf["rendered"].str.len() <= _CTX_BUDGET_CHARS).all()
    lost = pdf["full_len"] > _CTX_BUDGET_CHARS
    assert (pdf["truncated"] == lost).all()
    kept = pdf[~lost]
    assert (kept["rendered"].str.len() == kept["full_len"]).all()


def test_merge_upsert_actions_partition_keys(spark):
    """Each output key appears once; actions partition into target-only
    (keep), source-only (insert), both (update); balances add exactly."""
    pdf = QUERIES["merge_upsert"](spark, SF).toPandas()
    assert pdf["key"].is_unique
    tgt = set(
        spark.read.parquet(f"{SF}/customer.parquet")
        .select("c_custkey")
        .toPandas()["c_custkey"]
    )
    src = set(
        spark.read.parquet(f"{SF}/events.parquet")
        .select("user_id")
        .distinct()
        .toPandas()["user_id"]
    )
    by_action = {a: set(g["key"]) for a, g in pdf.groupby("action")}
    assert by_action.get("keep", set()) == tgt - src
    assert by_action.get("insert", set()) == src - tgt
    assert by_action.get("update", set()) == tgt & src


def test_key_skew_profile_accounts_for_all_rows(spark):
    """Histogram buckets tile the count domain: sum(rows) == total
    events, sum(n_keys) == distinct keys, bucket bounds honour the
    binary-magnitude definition 2^(bits-1) <= cnt < 2^bits."""
    pdf = QUERIES["key_skew_profile"](spark, SF).toPandas()
    ev = spark.read.parquet(f"{SF}/events.parquet")
    assert pdf["rows"].sum() == ev.count()
    assert pdf["n_keys"].sum() == ev.select("user_id").distinct().count()
    for r in pdf.itertuples():
        assert 2 ** (int(r.cnt_bits) - 1) <= int(r.min_cnt)
        assert int(r.max_cnt) < 2 ** int(r.cnt_bits)


def test_pmi_lift_is_exact_integer_division(spark):
    """Recompute the permille lift from raw counts driver-side with
    exact big-int arithmetic — the Spark int64 `div` must agree (no
    double round-trip anywhere)."""
    pdf = QUERIES["pmi_collocations"](spark, SF).toPandas()
    assert len(pdf) <= _PMI_TOPK
    docs = spark.read.parquet(f"{SF}/documents.parquet").toPandas()
    uni: dict = {}
    big: dict = {}
    import re

    for text in docs["text"]:
        ws = [w for w in re.split(r"[\t\n\f\r ]+", text) if w]
        for w in ws:
            uni[w] = uni.get(w, 0) + 1
        for a, b in zip(ws, ws[1:]):
            big[(a, b)] = big.get((a, b), 0) + 1
    n = sum(uni.values())
    for r in pdf.itertuples():
        c_xy = big[(r.w1, r.w2)]
        assert c_xy == int(r.c_xy)
        assert int(r.lift_permille) == (c_xy * 1000 * n) // (
            uni[r.w1] * uni[r.w2]
        )


def test_vocab_growth_is_monotone_and_complete(spark):
    """Cumulative vocab/tokens are non-decreasing; the final decile's
    cumulatives equal the corpus totals."""
    pdf = (
        QUERIES["vocab_growth"](spark, SF)
        .toPandas()
        .sort_values("decile")
    )
    assert pdf["vocab_cum"].is_monotonic_increasing
    assert pdf["tokens_cum"].is_monotonic_increasing
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    toks = docs.select(
        F.explode(F.split("text", "[\t\n\f\r ]+")).alias("t")
    ).where(F.col("t") != "")
    assert int(pdf["tokens_cum"].iloc[-1]) == toks.count()
    assert int(pdf["vocab_cum"].iloc[-1]) == toks.distinct().count()
    assert pdf["new_terms"].sum() == pdf["vocab_cum"].iloc[-1]


def test_triangle_count_matches_bruteforce(spark):
    """Recompute triangles driver-side from the same hamming<=3 edge
    set (sf0.001 graph is tiny): per-vertex participation must agree,
    and every excluded vertex must really exceed the degree cap."""
    from ds4sd_docling_tableformer_onnx_spark.operators.dedup import (
        simhash_candidates,
        simhash_column,
    )
    from ds4sd_docling_tableformer_onnx_spark.queries import (
        _TRI_DEG_CAP,
        QUERIES,
    )

    frame = QUERIES["triangle_count"](spark, SF)
    got = {
        int(r.doc_id): (int(r.n_triangles), bool(r.excluded))
        for r in frame.collect()
    }

    cand = simhash_candidates(
        simhash_column(spark.read.parquet(f"{SF}/documents.parquet"))
    )
    edges = {
        (int(r.id_a), int(r.id_b))
        for r in cand.where(F.col("hamming") <= 3).collect()
    }
    deg: dict = {}
    for a, b in edges:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    hubs = {v for v, d in deg.items() if d > _TRI_DEG_CAP}
    fe = {(a, b) for a, b in edges if a not in hubs and b not in hubs}
    tri_count: dict = {}
    fes = sorted(fe)
    fe_set = set(fes)
    adj: dict = {}
    for a, b in fes:
        adj.setdefault(a, set()).add(b)
    for a, b in fes:
        for c in adj.get(b, ()):
            if (a, c) in fe_set:
                for v in (a, b, c):
                    tri_count[v] = tri_count.get(v, 0) + 1
    expected = {v: (n, False) for v, n in tri_count.items()}
    expected.update({v: (0, True) for v in hubs})
    assert got == expected


def test_canonical_docs_keep_best_per_group(spark):
    """Exactly one keeper per group; the keeper maximizes n_chars with
    ties to the smallest doc_id; singletons keep themselves."""

    frame = QUERIES["canonical_docs"](spark, SF)
    pdf = frame.toPandas()
    chars = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", "n_chars")
        .toPandas()
        .set_index("doc_id")["n_chars"]
    )
    assert len(pdf) == len(chars)  # every doc gets a verdict
    for gid, grp in pdf.groupby("group_id"):
        keepers = grp[grp["keep"]]
        assert len(keepers) == 1
        best = sorted(
            grp.itertuples(),
            key=lambda r: (-int(chars[r.doc_id]), int(r.doc_id)),
        )[0]
        assert int(keepers.iloc[0]["doc_id"]) == int(best.doc_id)
        assert (grp["group_size"] == len(grp)).all()


def test_bigram_logprob_exact_integer_recompute(spark):
    """Driver-side recompute with math.log + the same micro-nat
    quantization must agree exactly for every document."""
    import math
    import re

    pdf = (
        QUERIES["bigram_logprob"](spark, SF)
        .toPandas()
        .set_index("doc_id")
    )
    docs = spark.read.parquet(f"{SF}/documents.parquet").toPandas()
    uni: dict = {}
    big: dict = {}
    per_doc: dict = {}
    for r in docs.itertuples():
        ws = [w for w in re.split(r"[\t\n\f\r ]+", r.text) if w]
        for w in ws:
            uni[w] = uni.get(w, 0) + 1
        bgs: dict = {}
        for a, b in zip(ws, ws[1:]):
            bgs[(a, b)] = bgs.get((a, b), 0) + 1
        per_doc[int(r.doc_id)] = bgs
        for pair, k in bgs.items():
            big[pair] = big.get(pair, 0) + k
    for doc_id, bgs in per_doc.items():
        if not bgs:
            assert doc_id not in pdf.index
            continue
        n = sum(bgs.values())
        score = sum(
            k * int(round(math.log(big[(a, b)] / uni[a]) * 1e6))
            for (a, b), k in bgs.items()
        )
        assert int(pdf.loc[doc_id, "n_bigrams"]) == n
        assert int(pdf.loc[doc_id, "score_micro"]) == score


def test_funnel_and_cohort_invariants(spark):
    """Funnel: steps_reached in [0,3] with one row per user.  Cohort:
    offset 0 exists for every cohort and counts the whole cohort."""
    fun = QUERIES["funnel_steps"](spark, SF).toPandas()
    n_users = (
        spark.read.parquet(f"{SF}/events.parquet")
        .select("user_id")
        .distinct()
        .count()
    )
    assert len(fun) == n_users and fun["user_id"].is_unique
    assert fun["steps_reached"].between(0, 3).all()

    coh = QUERIES["cohort_retention"](spark, SF).toPandas()
    assert (coh["offset_weeks"] >= 0).all()
    base = coh[coh["offset_weeks"] == 0].set_index("cohort_week")["n_users"]
    # every cohort has an offset-0 row and no offset exceeds it
    for wk, grp in coh.groupby("cohort_week"):
        assert wk in base.index
        assert (grp["n_users"] <= base[wk]).all()


def test_zorder_buckets_are_single_tiles(spark):
    """Every z-order bucket's bounding box stays inside ONE 16x16 bin
    tile (the z-prefix property that makes min/max skipping work), and
    bin indexes cover [0, 255]."""
    pdf = QUERIES["zorder_layout"](spark, SF).toPandas()
    assert (pdf["u_min"] >= 0).all() and (pdf["u_max"] <= 255).all()
    assert (pdf["d_min"] >= 0).all() and (pdf["d_max"] <= 255).all()
    for r in pdf.itertuples():
        assert int(r.u_min) // 16 == int(r.u_max) // 16
        assert int(r.d_min) // 16 == int(r.d_max) // 16
    ev = spark.read.parquet(f"{SF}/events.parquet")
    assert pdf["n_rows"].sum() == ev.count()


def test_stratified_sample_hits_budget_exactly(spark):
    """The draw returns exactly the budget, apportioned by
    largest-remainder (recomputed independently here)."""
    from ds4sd_docling_tableformer_onnx_spark.queries import (
        _STRAT_BUDGET,
        _largest_remainder,
    )

    pdf = QUERIES["stratified_sample"](spark, SF).toPandas()
    assert len(pdf) == _STRAT_BUDGET
    counts = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .where("lang is not null")
        .groupBy("lang")
        .count()
        .toPandas()
        .set_index("lang")["count"]
        .to_dict()
    )
    quotas = _largest_remainder(counts, _STRAT_BUDGET)
    got = pdf.groupby("lang").size().to_dict()
    assert got == {k: v for k, v in quotas.items() if v > 0}


def test_quantile_sketch_exact_values_and_contract(spark):
    """Exact percentiles recomputed driver-side from the sorted cents
    array (same ceil(p*n) definition); contract verdicts all true."""
    import math

    frame = QUERIES["quantile_sketch"](spark, SF)
    pdf = frame.toPandas().set_index("p_label")
    cents = sorted(
        int(round(v * 100))
        for v in spark.read.parquet(f"{SF}/orders.parquet")
        .select("o_totalprice")
        .toPandas()["o_totalprice"]
    )
    n = len(cents)
    for label, p in (("p50", 0.5), ("p95", 0.95), ("p99", 0.99)):
        assert int(pdf.loc[label, "exact_cents"]) == cents[
            max(1, math.ceil(p * n)) - 1
        ]
    assert pdf["within_contract"].all()


def test_stream_sessionize_equals_batch(spark):
    """The streamed session set (gap-break emissions + event-time
    timeout flushes across 2 data batches + 2 sentinel flush batches)
    equals Spark's own batch session_window result row-for-row, and at
    least one session SPANS the batch boundary (the cross-batch state
    path is really exercised)."""
    streamed = (
        QUERIES["stream_sessionize"](spark, SF)
        .toPandas()
        .sort_values(["user_id", "session_start"])
        .reset_index(drop=True)
    )
    batch = (
        QUERIES["session_window_counts"](spark, SF)
        .toPandas()
        .sort_values(["user_id", "session_start"])
        .reset_index(drop=True)
    )
    assert streamed.equals(batch)


def test_stream_sessionize_planted_cross_batch(spark, tmp_path):
    """Planted two-batch stream pinning every state path: a session
    EXTENDED across the batch boundary, an in-batch gap break, and a
    final session that can only flush via the sentinel's event-time
    timeout.  Expected rows are Spark's own batch session_window over
    the identical event set."""
    import datetime as dt

    from ds4sd_docling_tableformer_onnx_spark.streaming.sessionize import (
        stream_sessionize,
    )
    from pyspark.sql import functions as F

    t0 = dt.datetime(2024, 6, 1, 12, 0, 0)
    m = dt.timedelta(minutes=1)
    b1 = [  # user 1: two sessions inside batch 1 (gap break at 25 min)
        (1, t0),
        (1, t0 + 5 * m),
        (1, t0 + 30 * m),
        # user 2: open session reaching the boundary
        (2, t0 + 28 * m),
    ]
    b2 = [  # user 2 continues < 10 min after its b1 event: SAME session
        (2, t0 + 33 * m),
        # user 1 resumes >= 10 min after its last b1 event: new session
        (1, t0 + 45 * m),
    ]
    work = str(tmp_path)
    spark.createDataFrame(b1, "user_id long, ts timestamp").coalesce(
        1
    ).write.parquet(f"{work}/in/b1")
    spark.createDataFrame(b2, "user_id long, ts timestamp").coalesce(
        1
    ).write.parquet(f"{work}/in/b2")
    for i, mins in ((3, 90), (4, 150)):
        spark.createDataFrame(
            [(-1, t0 + mins * m)], "user_id long, ts timestamp"
        ).coalesce(1).write.parquet(f"{work}/in/b{i}")

    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{work}/in/*")
    )
    query = (
        stream_sessionize(stream, gap="10 minutes")
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", f"{work}/out")
        .option("checkpointLocation", f"{work}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in spark.read.parquet(f"{work}/out")
        .where("user_id >= 0")
        .collect()
    }
    expected_df = (
        spark.createDataFrame(b1 + b2, "user_id long, ts timestamp")
        .groupBy("user_id", F.session_window("ts", "10 minutes").alias("sw"))
        .agg(F.count("*").cast("long").alias("n_events"))
        .select(
            "user_id",
            F.date_format("sw.start", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "session_start"
            ),
            F.date_format("sw.end", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "session_end"
            ),
            "n_events",
        )
    )
    expected = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in expected_df.collect()
    }
    assert got == expected
    # the cross-batch extension really happened: user 2's single
    # session counts events from BOTH batches
    assert any(u == 2 and n == 2 for u, _s, _e, n in got)


def test_stream_sessionize_drops_late_rows(spark, tmp_path):
    """Self-review regression (r5): a cross-batch LATE event (behind
    the watermark) used to rewind the open session's end and split a
    session batch semantics would keep intact; late rows are now
    dropped, so the on-time events still fold into ONE session."""
    import datetime as dt

    from ds4sd_docling_tableformer_onnx_spark.streaming.sessionize import (
        stream_sessionize,
    )

    t0 = dt.datetime(2026, 4, 1, 8, 0)
    m = dt.timedelta(minutes=1)
    in_dir = tmp_path / "in"
    batches = [
        [(1, t0 + 60 * m), (1, t0 + 65 * m)],  # watermark -> 9:05
        [(1, t0), (1, t0 + 72 * m)],  # 8:00 is LATE; 9:12 extends
        [(-1, t0 + 300 * m)],  # sentinel 1: advance watermark
        [(-1, t0 + 600 * m)],  # sentinel 2: fire timeouts
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, "user_id long, ts timestamp").coalesce(
            1
        ).write.parquet(str(in_dir / f"b{i}"))
    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir / "*"))
    )
    query = (
        stream_sessionize(stream, gap="10 minutes")
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    rows = (
        spark.read.parquet(str(tmp_path / "out"))
        .where("user_id >= 0")
        .collect()
    )
    # one session over the three ON-TIME events (9:00, 9:05, 9:12);
    # the late 8:00 row is dropped, never a rewind-then-split
    assert [(r.n_events, r.session_start[11:16]) for r in rows] == [
        (3, "09:00")
    ]


def test_range_checksums_detect_single_mutation(spark, tmp_path):
    """Reconciliation property: a copy of orders with ONE field of ONE
    row mutated diffs in EXACTLY its range's checksum (row counts
    identical everywhere) — the audit finds the needle without
    shipping rows."""
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    victim = orders.select("o_orderkey").first()["o_orderkey"]
    mutated = orders.withColumn(
        "o_orderpriority",
        F.when(
            F.col("o_orderkey") == victim, F.lit("9-TAMPERED")
        ).otherwise(F.col("o_orderpriority")),
    )
    snap = str(tmp_path / "mutated")
    mutated.write.parquet(f"{snap}/orders.parquet")

    a = (
        QUERIES["range_checksums"](spark, SF)
        .toPandas()
        .set_index("range_id")
        .sort_index()
    )
    b = (
        QUERIES["range_checksums"](spark, snap)
        .toPandas()
        .set_index("range_id")
        .sort_index()
    )
    assert (a["n_rows"] == b["n_rows"]).all()
    diff = a.index[a["checksum"] != b["checksum"]]
    from ds4sd_docling_tableformer_onnx_spark.queries import _AUDIT_RANGE

    assert list(diff) == [victim // _AUDIT_RANGE]


def test_stream_sessionize_on_time_disorder_under_delay(spark, tmp_path):
    """Self-review regression (r5, second pass): with a NONZERO
    watermark delay, cross-batch disorder is ON TIME and must match
    batch semantics — an event within gap of the open session merges
    and extends the session START backwards; an event >= gap older
    emits as its own session.  Expected rows are Spark's own batch
    session_window over the identical events."""
    import datetime as dt

    from ds4sd_docling_tableformer_onnx_spark.streaming.sessionize import (
        stream_sessionize,
    )
    from pyspark.sql import functions as F

    t0 = dt.datetime(2026, 5, 1, 8, 0)
    m = dt.timedelta(minutes=1)
    in_dir = tmp_path / "in"
    batches = [
        [(1, t0 + 70 * m), (2, t0 + 70 * m)],  # both open at 9:10
        # on-time under the 2h delay: user 1 merges backwards (9:07);
        # user 2's 8:00 is >= gap older -> its own session
        [(1, t0 + 67 * m), (2, t0)],
        [(-1, t0 + 600 * m)],  # sentinel: advance watermark
        [(-1, t0 + 1200 * m)],  # sentinel: fire timeouts
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, "user_id long, ts timestamp").coalesce(
            1
        ).write.parquet(str(in_dir / f"b{i}"))
    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir / "*"))
    )
    query = (
        stream_sessionize(stream, gap="10 minutes", delay="2 hours")
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in spark.read.parquet(str(tmp_path / "out"))
        .where("user_id >= 0")
        .collect()
    }
    flat = [r for b in batches[:2] for r in b]
    expected_df = (
        spark.createDataFrame(flat, "user_id long, ts timestamp")
        .groupBy("user_id", F.session_window("ts", "10 minutes").alias("sw"))
        .agg(F.count("*").cast("long").alias("n_events"))
        .select(
            "user_id",
            F.date_format("sw.start", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "session_start"
            ),
            F.date_format("sw.end", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "session_end"
            ),
            "n_events",
        )
    )
    expected = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in expected_df.collect()
    }
    assert got == expected
    # and the two interesting shapes really occurred: a 2-event merged
    # session starting at the LATER-ARRIVED earlier time for user 1,
    # and two separate sessions for user 2
    assert any(u == 1 and n == 2 and s.endswith("09:07:00.000000")
               for u, s, _e, n in got)
    assert sum(1 for u, *_ in got if u == 2) == 2
