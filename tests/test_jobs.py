"""jobs/curate_job.py: end-to-end curation pipeline invariants.

The job composes oracle-checked operators (simhash near-dup groups,
deterministic mixture sampling, two-phase sequence packing), so this
test guards the *composition*: survivor canonicality, RNG-free sampling
determinism, and the packing contiguity invariant — with zero global
(un-partitioned) windows in the plan.
"""

from __future__ import annotations

import hashlib
import random
import sys
from pathlib import Path

import pytest

from tests.test_widen_gc import SF as SF001

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "jobs"))

SF001_DOCS = f"{SF001}/documents.parquet"


def packed_sha256(packed) -> str:
    """SHA-256 of the packed output as CSV, rows sorted by doc_id."""
    pdf = packed.toPandas().sort_values("doc_id").reset_index(drop=True)
    return hashlib.sha256(pdf.to_csv(index=False).encode()).hexdigest()


@pytest.fixture(scope="module")
def docs(spark):
    rows = []
    for i in range(240):
        # clusters of 3 near-identical docs every 12th id
        base = f"alpha beta gamma delta epsilon zeta {i // 12}"
        text = base if i % 12 < 3 else f"doc {i} " + " ".join(
            f"tok{(i * 7 + j) % 97}" for j in range(5 + i % 23)
        )
        rows.append((str(i), text, f"src{i % 6}", "en"))
    return spark.createDataFrame(rows, "doc_id string, text string, source string, lang string")


def test_curate_packing_invariants(spark, docs):
    from curate_job import curate

    packed, stats = curate(spark, docs, max_seq_len=64, hamming=3)
    pdf = packed.toPandas().sort_values(["start_seq", "offset_in_seq"]).reset_index(drop=True)

    assert stats["input_docs"] == 240
    assert 0 < stats["survivors_sampled"] < 240
    assert len(pdf) == stats["survivors_sampled"]

    # survivors are canonical (doc_id == group_id) and unique per group
    assert (pdf.doc_id == pdf.group_id).all()
    assert pdf.group_id.is_unique

    # packing contiguity: global token positions are an exact prefix sum
    before = pdf.start_seq * 64 + pdf.offset_in_seq
    prefix = pdf.n_tokens.cumsum().shift(1).fillna(0).astype("int64")
    assert (before.values == prefix.values).all()
    # span count consistent with the slot arithmetic
    end = before + pdf.n_tokens - 1
    assert ((end // 64 - before // 64 + 1) == pdf.spans).all()
    assert stats["sequences"] == -(-int(pdf.n_tokens.sum()) // 64)


def test_curate_deterministic(spark, docs):
    from curate_job import curate

    a, sa = curate(spark, docs, max_seq_len=128, hamming=3)
    b, sb = curate(spark, docs, max_seq_len=128, hamming=3)
    assert sa == sb
    pa = a.toPandas().sort_values("doc_id").reset_index(drop=True)
    pb = b.toPandas().sort_values("doc_id").reset_index(drop=True)
    assert pa.equals(pb)


def test_curate_semantic_dedup_stage(spark, docs):
    """--emb-input: survivors whose embedding is a within-cluster
    near-parallel of a smaller-id row are dropped (SemDeDup stage);
    survivors without embeddings are untouched."""
    from curate_job import curate

    base, _ = curate(spark, docs, max_seq_len=64, hamming=3)
    # doc_id is a STRING here: sort lexicographically, matching the
    # operator's a.id < b.id ordering, so keep_a really is the
    # canonical min of the planted near-dup pair
    base_ids = sorted({r["doc_id"] for r in base.select("doc_id").collect()})
    assert len(base_ids) >= 3
    keep_a, keep_b = base_ids[0], base_ids[1]
    victim = base_ids[2]
    # victim's vector is near-parallel to keep_a's; keep_b orthogonal
    emb = spark.createDataFrame(
        [
            (keep_a, [1.0, 0.0]),
            (victim, [0.999, 0.045]),
            (keep_b, [0.0, 1.0]),
        ],
        "vec_id string, embedding array<float>",
    )
    cleaned, stats = curate(
        spark, docs, max_seq_len=64, hamming=3,
        emb_docs=emb, sem_threshold=0.9, sem_lists=1,
    )
    cleaned_ids = {r["doc_id"] for r in cleaned.select("doc_id").collect()}
    assert stats["semantic_dropped"] == 1
    assert victim not in cleaned_ids
    assert keep_a in cleaned_ids and keep_b in cleaned_ids
    assert set(base_ids) - cleaned_ids == {victim}


def test_curate_quality_filter_stage(spark, docs):
    """--quality-filter: a doc written in spam-shard vocabulary drops
    even though the classifier never saw it labeled (weights are
    trained on the raw corpus with rule-battery weak labels — the long
    rule-passing docs supply the good vocabulary, the short tokNN docs
    fail r_min_words and supply the bad)."""
    from pyspark.sql import functions as F

    from curate_job import curate

    _, base_stats = curate(spark, docs, max_seq_len=64, hamming=3)
    cleaned, stats = curate(
        spark, docs, max_seq_len=64, hamming=3,
        quality_filter=True,
    )
    # the tokNN docs (every non-cluster doc) fail r_min_words, so the
    # trained model scores their vocabulary negative and they drop
    assert stats["quality_dropped"] > 0
    assert stats["survivors_sampled"] <= base_stats["survivors_sampled"]
    assert base_stats["quality_dropped"] == 0
    # deterministic: same corpus, same weights, same drops
    _, stats2 = curate(
        spark, docs, max_seq_len=64, hamming=3,
        quality_filter=True,
    )
    assert stats2 == stats


def test_mixture_keep_non_numeric_source(spark):
    """Sources that don't match 'src([0-9]+)' (e.g. 'wiki') must not
    crash under ANSI mode (CAST('' AS INT) threw pre-r4) and fall back
    to keep rate 1 — ADVICE r3 medium."""
    from ds4sd_docling_tableformer_onnx_spark.functions.sampling import (
        mixture_keep,
    )

    rows = [(str(i), src) for i in range(64) for src in ("wiki", "src0", "src3")]
    df = spark.createDataFrame(rows, "doc_id string, source string")
    kept = df.where(mixture_keep("doc_id", "source")).groupBy("source").count()
    by_src = {r["source"]: r["count"] for r in kept.collect()}
    # unmatched source == K=0 == keep everything, identical to src0
    assert by_src["wiki"] == 64
    assert by_src["src0"] == 64
    # src3 keeps at rate 1/8 — strictly fewer
    assert 0 < by_src.get("src3", 0) < 64


def test_curate_hygiene_stages(spark, docs):
    """--eval-input and --max-dup-frac drop the right survivors: a
    benchmark doc sharing a near-dup cluster's text knocks that
    cluster's canonical survivor out; the dup-span filter removes
    cluster survivors whose text is corpus-duplicated."""
    from curate_job import curate

    base, _ = curate(spark, docs, max_seq_len=64, hamming=3)
    base_ids = {r["doc_id"] for r in base.select("doc_id").collect()}

    # benchmark table = the verbatim text of doc 13 (a unique,
    # >= 8-word doc, so it is its own canonical survivor and its grams
    # exist; the 7-word cluster texts are below the 8-gram threshold)
    doc13_text = "doc 13 " + " ".join(
        f"tok{(13 * 7 + j) % 97}" for j in range(5 + 13 % 23)
    )
    eval_docs = spark.createDataFrame(
        [("e0", doc13_text)], "doc_id string, text string"
    )
    cleaned, stats = curate(
        spark, docs, max_seq_len=64, hamming=3,
        eval_docs=eval_docs,
    )
    cleaned_ids = {r["doc_id"] for r in cleaned.select("doc_id").collect()}
    assert stats["contaminated_dropped"] >= 1
    if "13" in base_ids:  # contamination drop precedes mixture sampling
        assert "13" not in cleaned_ids
    assert cleaned_ids <= base_ids

    # dup-span filter: every doc's tok stream is a window of the SAME
    # cyclic sequence tok((7i+j) % 97), so many 8-gram windows recur in
    # >= 4 docs — a strict threshold must drop some survivors
    filtered, fstats = curate(
        spark, docs, max_seq_len=64, hamming=3,
        max_dup_frac=0.9,
    )
    filtered_ids = {r["doc_id"] for r in filtered.select("doc_id").collect()}
    assert fstats["repetitive_dropped"] >= 1
    assert filtered_ids < base_ids


def test_curate_rule_and_substring_stages(spark):
    """--rule-filter drops battery failures up front; --strip-dup-
    substrings removes corpus-duplicated spans BEFORE signals (token
    counts must see the stripped corpus); every output row carries a
    group-hashed split that never straddles a near-dup component."""
    from curate_job import curate

    common = " ".join(f"shared{j}" for j in range(10))
    rows = []
    for i in range(40):
        filler = " ".join(f"u{i}x{j}" for j in range(25))
        text = (common + " " + filler) if i % 2 == 0 else filler
        rows.append((str(i), text, f"src{i % 3}", "en"))
    for i in range(40, 50):  # rule-battery failures (too short)
        rows.append((str(i), "tiny doc", f"src{i % 3}", "en"))
    docs = spark.createDataFrame(
        rows, "doc_id string, text string, source string, lang string"
    )

    packed, stats = curate(
        spark, docs, max_seq_len=64, rule_filter=True, strip_substrings=True
    )
    pdf = packed.toPandas()
    assert stats["rule_dropped"] == 10
    # every even doc loses exactly the 10-token shared span (its three
    # interior 8-grams repeat across 20 docs; filler grams are unique)
    assert stats["substring_tokens_removed"] == 20 * 10
    # token counts reflect the STRIPPED text: all survivors are now the
    # 25-token filler
    assert (pdf["n_tokens"] == 25).all()
    assert set(pdf["split"]) <= {"train", "holdout"}
    assert (pdf.groupby("group_id")["split"].nunique() == 1).all()


def test_curate_source_quota_stage(spark, docs):
    """--source-quota N: every source capped at N BEFORE dedup, the
    kept set is exactly the N smallest md5-u32 ranks per source, and
    the stage is deterministic."""
    from pyspark.sql import functions as F

    from curate_job import curate
    from ds4sd_docling_tableformer_onnx_spark.functions.sampling import u32_md5

    quota = 12
    packed, stats = curate(
        spark, docs, max_seq_len=64, hamming=3,
        source_quota=quota,
    )
    # 240 docs over 6 sources (40 each) -> exactly 6*quota survive 0d
    assert stats["quota_dropped"] == 240 - 6 * quota
    # downstream stages only see capped sources: every packed doc is in
    # the per-source md5-u32 top-`quota` of the raw corpus
    kept = {
        r["doc_id"]
        for r in docs.select(
            "doc_id",
            F.row_number()
            .over(
                __import__("pyspark").sql.Window.partitionBy("source").orderBy(
                    u32_md5("doc_id"), "doc_id"
                )
            )
            .alias("rk"),
        )
        .where(F.col("rk") <= quota)
        .collect()
    }
    packed_ids = {r["doc_id"] for r in packed.select("doc_id").collect()}
    assert packed_ids <= kept
    _, stats2 = curate(
        spark, docs, max_seq_len=64, hamming=3,
        source_quota=quota,
    )
    assert stats2 == stats


def test_curate_keep_best_retention_policy(spark, docs):
    """--keep-best switches the survivor from the smallest id to the
    LONGEST text per near-dup group (canonical_docs semantics).  The
    planted cluster's common word mass dominates every simhash bit
    margin, so all three variants land in one group; the longest
    variant has the LARGEST id — the two policies provably differ."""
    from curate_job import curate

    # simhash signs over DISTINCT words: the three variants share one
    # word SET (length differs only by repetition) -> hamming 0 ->
    # guaranteed one group
    common = "planted0 planted1 planted2 planted3 planted4"
    planted = [
        ("900", common, "srcp", "en"),
        ("901", common, "srcp", "en"),
        ("902", common + " planted0" * 20, "srcp", "en"),
    ]
    docs_p = docs.unionByName(
        spark.createDataFrame(
            planted, "doc_id string, text string, source string, lang string"
        )
    )
    best, _ = curate(spark, docs_p, max_seq_len=128, keep_best=True)
    best_ids = set(best.toPandas()["doc_id"])
    first, _ = curate(spark, docs_p, max_seq_len=128)
    first_ids = set(first.toPandas()["doc_id"])
    # mixture sampling happens after retention; the planted group is
    # 'srcp' (unknown source -> kept by default mixture rule) so its
    # survivor is visible in the output either way
    assert "902" in best_ids and {"900", "901"}.isdisjoint(best_ids)
    assert "900" in first_ids and {"901", "902"}.isdisjoint(first_ids)


# every stage that needs no extra input, with a quota that binds on the
# 25-docs-per-source sf0.01 corpus
NO_INPUT_STAGES = dict(
    rule_filter=True,
    strip_substrings=True,
    quality_filter=True,
    source_quota=10,
    max_dup_frac=0.5,
)


@pytest.mark.parametrize(
    "options, digest, expected",
    [
        (
            {},
            "fae5499cbef7e4546b9d515c2cf4fd5dd624271118182dd9c8e2863d6487ad5d",
            {
                "input_docs": 500,
                "rule_dropped": 0,
                "substring_tokens_removed": 0,
                "quality_dropped": 0,
                "quota_dropped": 0,
                "contaminated_dropped": 0,
                "repetitive_dropped": 0,
                "semantic_dropped": 0,
                "survivors_sampled": 151,
                "total_tokens": 6149,
                "sequences": 4,
            },
        ),
        (
            NO_INPUT_STAGES,
            "a6da2f5a1bd2a4d5d185499839c03e93d125dd2cd3335720457dd6248eb4b2b5",
            {
                "input_docs": 500,
                "rule_dropped": 262,
                "substring_tokens_removed": 718,
                "quality_dropped": 31,
                "quota_dropped": 24,
                "contaminated_dropped": 0,
                "repetitive_dropped": 0,
                "semantic_dropped": 0,
                "survivors_sampled": 61,
                "total_tokens": 2893,
                "sequences": 2,
            },
        ),
    ],
    ids=["default", "no_input_stages"],
)
def test_curate_output_locked_on_sf001(spark, options, digest, expected):
    """curate's packed rows and its stats dict on the sf0.01 documents
    are pinned: any change to how stages are composed or counted must
    leave both byte-identical."""
    from curate_job import curate

    packed, stats = curate(spark, spark.read.parquet(SF001_DOCS), **options)
    assert stats == expected
    assert packed_sha256(packed) == digest


def _planted_corpus():
    """Documents with known rejects for every curate stage, keyed by
    doc_id range (every word is 5-6 chars, so the rule battery's word
    length band always passes unless a doc is planted to fail):

    - 0-15 good: 24 distinct words each, sources src0..src3 round-robin;
    - 16-18 strip: a good doc behind the same 10-word shared span;
    - 19-22 repetitive: ``rp000..rp003 T T rp004..rp007``, ``T`` 8 words
      per doc; the strip removes both copies of ``T``, leaving four
      identical 8-word texts (one near-dup group whose one 8-gram is in
      4 docs, so the canonical doc's duplicated-span fraction is 1.0);
    - 23-36 quota: 14 good docs in src4;
    - 37-39 quality: 22 spam words each, passing every rule;
    - 40-49 rule AND quality: 23 spam words plus a ``{br}`` token
      (fails r_no_braces; these docs teach the scorer that spam
      vocabulary is bad);
    - 50-52 rule: too short.
    """
    rnd = random.Random(5)
    spam = [f"spm{k:02d}" for k in range(30)]
    shared = " ".join(f"sh{j:03d}" for j in range(10))
    rows = []

    def good(i):
        return " ".join(f"g{i:02d}w{j:02d}" for j in range(24))

    for i in range(16):
        rows.append((i, good(i), f"src{i % 4}"))
    for i in range(16, 19):
        rows.append((i, shared + " " + good(i), "src0"))
    for i in range(19, 23):
        t = " ".join(f"t{i}x{j:02d}" for j in range(8))
        rows.append((i, f"rp000 rp001 rp002 rp003 {t} {t} rp004 rp005 rp006 rp007", "src8"))
    for i in range(23, 37):
        rows.append((i, good(i), "src4"))
    for i in range(37, 40):
        rows.append((i, " ".join(rnd.sample(spam, 22)), "src0"))
    for i in range(40, 50):
        rows.append((i, " ".join(rnd.sample(spam, 23)) + " {br}", "src0"))
    for i in range(50, 53):
        rows.append((i, "tiny doc", "src0"))
    return [(i, text, source, "en") for i, text, source in rows]


def test_curate_every_stage_exact_counts(spark):
    """All eight stages on at once over a corpus with planted rejects:
    every stats value is exact, and a doc two stages reject is counted
    once, under the earliest (docs 40-52 fail the rule battery AND
    score <= 0; doc 8 is both a semantic near-dup and contaminated)."""
    from curate_job import curate
    from ds4sd_docling_tableformer_onnx_spark.functions.rules import (
        heuristic_rules,
        keep_all,
    )
    from ds4sd_docling_tableformer_onnx_spark.operators.classifier import (
        quality_scores,
        train_quality_weights,
    )

    rows = _planted_corpus()
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string, lang string"
    )
    text = {r[0]: r[1] for r in rows}
    eval_docs = spark.createDataFrame(
        [(900, text[0]), (901, text[8])], "doc_id long, text string"
    )
    emb = spark.createDataFrame(
        [(4, [1.0, 0.0]), (8, [0.999, 0.045]), (12, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )

    # the precedence case is real: every rule reject (40-52) also scores
    # <= 0 on the raw text, and no good doc does
    weights = train_quality_weights(
        docs.withColumn("label", keep_all(heuristic_rules("text")))
    )
    scored = quality_scores(docs, weights).where("q_score <= 0")
    assert {r["doc_id"] for r in scored.collect()} == set(range(37, 53))

    packed, stats = curate(
        spark, docs, max_seq_len=64,
        rule_filter=True, strip_substrings=True, quality_filter=True,
        source_quota=10, eval_docs=eval_docs, max_dup_frac=0.5,
        emb_docs=emb, sem_threshold=0.9, sem_lists=1,
    )
    # 53 docs = 13 rule + 3 quality + 4 quota + 3 non-canonical near-dups
    # (uncounted) + 1 semantic + 1 contaminated + 1 repetitive + 10
    # sampled out + 17 packed
    assert stats == {
        "input_docs": 53,
        "rule_dropped": 13,
        "substring_tokens_removed": 94,
        "quality_dropped": 3,
        "quota_dropped": 4,
        "contaminated_dropped": 1,
        "repetitive_dropped": 1,
        "semantic_dropped": 1,
        "survivors_sampled": 17,
        "total_tokens": 408,
        "sequences": 7,
    }
    assert sorted(r["doc_id"] for r in packed.select("doc_id").collect()) == [
        4, 6, 9, 12, 16, 17, 18, 23, 24, 26, 27, 28, 30, 32, 33, 35, 36,
    ]
