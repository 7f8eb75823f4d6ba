#!/usr/bin/env python3
"""Benchmark: extraction throughput + headline queries + scaling evidence.

Prints ONE compact JSON line (the LAST stdout line, hard-capped at
1.5 kB so the driver's 2,000-char tail capture always parses it — r4
verdict item 2; BENCH_r04 was recorded ``parsed: null`` when the
per-query map outgrew the tail):
    {"metric": ..., "value": <total sec>, "unit": "sec",
     "queries": {<slowest few>: sec, ...}, "n_queries": N, "sf": ...,
     "extraction": {"turns": N, "turns_per_sec": ..., "pass_rate": ...},
     "scaling": {"efficiency_N_to_4N": ...}, "detail": "BENCH_DETAIL.json"}

The FULL per-query timing map plus the complete scaling/contention
evidence goes to BENCH_DETAIL.json next to this script (committed per
round; BASELINE.md narrates it).

Scaling evidence (north_rule: >=0.8 efficiency between N and 4N
executors): the identical extraction job runs at local[4] and local[16]
over the same parquet input; turns/sec at both plus the median
per-visit paired efficiency are reported.  The in-process
threading of the reference collapses beyond 2 threads
(BASELINE.md thread sweep); partition parallelism is the scale axis.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32).
"""

from __future__ import annotations

import json
import os
import sys
import time
from contextlib import contextmanager
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
BENCH_TMP = os.environ.get("SPARK_GRAFT_BENCH_TMP", "/tmp/spark_graft_bench")

# Task sizing: this environment's python-exchange tasks carry a measured
# ~170 ms FIXED cost each (JVM-side runner setup; hard cost, additive
# even with a busy reused worker).  Production tuning applies identically
# at 100 TB: tasks must carry seconds of work.  The transcript inputs are
# therefore written as one-parquet-file-per-intended-task (64-128
# substantial files), and the read pins openCostInBytes =
# maxPartitionBytes so exactly one file lands in each split — no 32 KB
# split hack, no half-empty micro-tasks.
ONE_FILE_PER_TASK = {
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.files.openCostInBytes": "134217728",
}


@contextmanager
def one_file_per_task(spark):
    """Apply ONE_FILE_PER_TASK inside the block and restore the previous
    values on exit, also when the block raises."""
    conf = spark.conf
    old = {k: conf.get(k) for k in ONE_FILE_PER_TASK}
    for k, v in ONE_FILE_PER_TASK.items():
        conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            conf.set(k, v)


# interleaved [N, 4N] scaling visits (min-wall per level; see the
# scaling-evidence comment in main())
SCALING_VISITS = 5
# per-visit contention gate: healthy windows on this box probe at
# ~1.0-1.15 (turbo droop only); noisy-neighbor episodes probe >1.3 and
# bias the paired efficiency DOWN (the 16-wide level absorbs the steal)
VISIT_PROBE_MAX = 1.25

# headline query subset (one per operator family; the full 67-oracle set
# runs in the correctness gate, not here)
HEADLINE = [
    "dense_rank_reindex",
    "max_by_per_key",
    "exact_median_per_group",
    "pricing_summary",
    "filtered_revenue",
    "band_join",
    "interval_theta_join",
    "sessionize",
    "dim_join_rollup",
    "bbox_iou",
    "quality_score",
    "lang_id",
    "exact_dedup",
    "minhash_lsh_pairs",
    "simhash_candidates",
    "word_jaccard_pairs",
    "ann_cosine_topk",
    "embedding_neardup",
    "token_count",
    "repetition_metrics",
    "bm25_topk",
    "mixture_sample",
    "pack_sequences",
    "pii_scrub",
    "url_domain_rollup",
    "dedup_groups",
    "ann_batch_topk",
    "boilerplate_strip",
    "reading_order",
    "decontaminate",
    "dup_span_stats",
    "unigram_logprob",
    "negative_sample",
    "bpe_pair_counts",
    "asof_join",
    "rollup_revenue",
    "pivot_status_by_segment",
    "json_extract_rollup",
    "stats_by_type",
    "session_window_counts",
    "bpe_merges",
    "bpe_encode",
    "semantic_dedup",
    "bloom_dedup",
    "chunk_documents",
    "cluster_split",
    "dsir_resample",
    "ccnet_buckets",
    "global_shuffle",
    "dedup_substrings",
    "c4_filters",
    "quality_classifier",
    "scd2_dimension",
    "contrastive_triplets",
    "tfidf_keywords",
    "source_quota_sample",
    "lang_temperature_sample",
    "winnow_fingerprints",
    "role_transitions",
    "sequence_dedup",
    "edit_distance_pairs",
    "cms_heavy_hitters",
    "salted_source_join",
    "inverted_postings",
    "pmi_collocations",
    "vocab_growth",
    "chat_template_render",
    "context_windows",
    "merge_upsert",
    "cube_revenue",
    "key_skew_profile",
    "partitioned_write_prune",
    "bucketed_colocated_join",
    "triangle_count",
    "bigram_logprob",
    "canonical_docs",
    "funnel_steps",
    "cohort_retention",
    "zorder_layout",
    "stratified_sample",
    "quantile_sketch",
    "range_checksums",
]


def _count(df):
    return df.count()


def _burn(_):
    t0 = time.perf_counter()
    x = 0
    for i in range(20_000_000):
        x += i
    return time.perf_counter() - t0


def _cpu_ceiling(n_small: int, n_big: int) -> float:
    """Per-core python throughput ratio between n_big-way and n_small-way
    load — the turbo-clock scaling ceiling for any CPU-bound job here."""
    import multiprocessing as mp

    rates = {}
    for n in (n_small, n_big):
        with mp.Pool(n) as pool:
            times = pool.map(_burn, range(n))
        rates[n] = n / (sum(times) / n)  # total work-units per second
    return rates[n_big] / (rates[n_small] * (n_big / n_small))


def _contention_probe(n_procs: int = 16) -> dict:
    """Noisy-neighbor probe (VERDICT r2 item 4): a fixed pure-python
    burn, single-process and n_procs-parallel.  ``single_sec`` is
    cross-round comparable (identical workload every round: BENCH_r02's
    uniform ~1.35x query slowdown vs r01 was attributed to neighbor
    load by argument — this makes it data).  ``index`` =
    parallel-mean / single: ~1.0-1.2 on an idle box (turbo droop only),
    >1.3 when neighbors are stealing cores."""
    import multiprocessing as mp

    single = _burn(0)
    with mp.Pool(n_procs) as pool:
        times = pool.map(_burn, range(n_procs))
    mean_par = sum(times) / len(times)
    return {
        "procs": n_procs,
        "single_sec": round(single, 3),
        "parallel_mean_sec": round(mean_par, 3),
        "index": round(mean_par / single, 3),
    }


def run_extraction_only(spark, input_path):
    """Pure extraction throughput: full-output extraction into a noop
    sink (no driver-side collect, no verification join)."""
    from ds4sd_docling_tableformer_onnx_spark.operators.extract import (
        extract_transcripts,
    )

    with one_file_per_task(spark):
        transcripts = spark.read.parquet(input_path)
        n = transcripts.count()
        t0 = time.perf_counter()
        extract_transcripts(transcripts).write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
    return n, wall


def run_extraction(spark, input_path):
    """Extract + verify every turn; returns (turns, wall_sec, pass_rate)."""
    from pyspark.sql import functions as F

    from ds4sd_docling_tableformer_onnx_spark.operators.extract import (
        extract_transcripts,
        verify_against_pool,
    )
    from ds4sd_docling_tableformer_onnx_spark.sources.transcripts import (
        payload_pool_df,
    )

    with one_file_per_task(spark):
        transcripts = spark.read.parquet(input_path)
        t0 = time.perf_counter()
        verified = verify_against_pool(
            extract_transcripts(transcripts), payload_pool_df(spark)
        )
        row = verified.agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("html_match"), 1).otherwise(0)).alias("matched"),
        ).first()
        wall = time.perf_counter() - t0
    return row["n"], wall, row["matched"] / max(row["n"], 1)


def main():
    from ds4sd_docling_tableformer_onnx_spark.queries import QUERIES
    from ds4sd_docling_tableformer_onnx_spark.session import build_session
    from ds4sd_docling_tableformer_onnx_spark.sources.transcripts import (
        generate_transcripts,
    )

    sf_label = Path(SF_DIR).name
    n_turns = {
        "sf0.001": 500,
        "sf0.01": 5_000,
        "sf0.1": 50_000,
        # sf1 tier (scripts/make_sf1.py): 10x the sf0.1 corpus AND 10x
        # the extraction volume, so the sf1 bench exercises both axes
        "sf1": 500_000,
        "spark_graft_sf1": 500_000,
    }.get(sf_label, 5_000)

    # --- prepare the shared transcript inputs once -----------------------
    # scaling evidence needs enough work that task overheads amortize,
    # but short enough that 5 interleaved visits fit the bench budget
    scaling_turns = max(n_turns, 80_000)
    # One file = one task (see ONE_FILE_PER_TASK): file count IS the task
    # count.  64 input tasks (2 waves at 32 cores, ~0.6 s of work each),
    # 96 scaling tasks (6 waves at 16 / 24 at 4, ~0.7 s each), 16 warm.
    input_files, scaling_files = 64, 96
    input_path = f"{BENCH_TMP}/transcripts_{sf_label}_{n_turns}_v2f{input_files}"
    scaling_path = f"{BENCH_TMP}/transcripts_scaling_{scaling_turns}_v2f{scaling_files}"
    warm_path = f"{BENCH_TMP}/transcripts_warm_10000_v2f16"
    spark = build_session(app_name="bench-gen", cores=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    if not Path(input_path).exists():
        generate_transcripts(spark, n_turns=n_turns, seed=42).repartition(
            input_files
        ).write.mode("overwrite").parquet(input_path)
    if not Path(scaling_path).exists():
        generate_transcripts(spark, n_turns=scaling_turns, seed=43).repartition(
            scaling_files
        ).write.mode("overwrite").parquet(scaling_path)
    if not Path(warm_path).exists():
        generate_transcripts(spark, n_turns=10_000, seed=44).repartition(16).write.mode(
            "overwrite"
        ).parquet(warm_path)

    timings = {}
    total = 0.0

    # warm the JVM + python worker pool so the first timed query does not
    # absorb session startup
    QUERIES[HEADLINE[0]](spark, SF_DIR).count()

    # contention probe bracketing the timed block (emitted in the JSON so
    # wall regressions are attributable to neighbor load, not guessed)
    contention_before = _contention_probe()

    # --- headline relational / pipeline queries at CPUS cores -----------
    # best of 2 per query: a single cold shot folds plan-compilation and
    # noisy-neighbor jitter into the number
    for name in HEADLINE:
        fn = QUERIES[name]
        dt = None
        for _ in range(2):
            t0 = time.perf_counter()
            _count(fn(spark, SF_DIR))
            run = time.perf_counter() - t0
            dt = run if dt is None else min(dt, run)
        timings[name] = round(dt, 3)
        total += dt

    # --- extraction at full parallelism (best of 2: damp scheduler noise)
    turns, wall_a, pass_rate = run_extraction(spark, input_path)
    _, wall_b, _ = run_extraction(spark, input_path)
    wall_full = min(wall_a, wall_b)
    timings["extraction"] = round(wall_full, 3)
    total += wall_full
    contention_after = _contention_probe()
    spark.stop()

    # --- scaling evidence: same job, N vs 4N cores ----------------------
    # N=4 -> 4N=16 keeps both levels on physical cores (32 logical = 16
    # physical + SMT here; the pure-python ceiling for 8->32 is ~0.73 from
    # hyperthreading alone, which would mask the engine's scaling).
    # This shared VM has multi-minute noisy-neighbor episodes (~40% CPU
    # degradation).  Measuring all N-core runs in one block and all
    # 4N-core runs in another lets one episode skew the ratio in either
    # direction, so the levels are INTERLEAVED in time — [N, 4N] x
    # SCALING_VISITS visits, fresh session each visit, warm run per
    # session — and each level takes its least-contended (min-wall)
    # sample.
    scaling = {}
    # hardware ceiling for the ratio: pure-python multiprocessing burn at
    # both widths — core-count-dependent turbo clocks alone cost ~12-14%
    # on this box, so ~0.87 is the best any CPU-bound job can show
    scaling["hardware_ceiling_4_to_16"] = round(_cpu_ceiling(4, 16), 3)
    walls = {c: [] for c in (4, 16)}
    visit_probe = []
    n_scaling = None
    for _visit in range(SCALING_VISITS):
        # per-visit contention probes: neighbor load hits the 16-wide
        # run harder than the 4-wide run (fewer spare cores absorb the
        # steal), so contended visits BIAS the paired ratio downward
        # instead of cancelling — they must be identifiable, not
        # averaged in.  Probe BEFORE and AFTER the visit (an episode
        # can start mid-visit) and gate on the max; visits probing
        # > VISIT_PROBE_MAX are excluded from the headline median
        # (recorded, never silently dropped).
        pre = _contention_probe(8)["index"]
        for cores in (4, 16):
            s = build_session(app_name=f"bench-{cores}", cores=cores)
            s.sparkContext.setLogLevel("ERROR")
            run_extraction_only(s, warm_path)  # JIT + python worker spawn
            n_scaling, w = run_extraction_only(s, scaling_path)
            walls[cores].append(w)
            s.stop()
        visit_probe.append(max(pre, _contention_probe(8)["index"]))
    for cores in (4, 16):
        wall = min(walls[cores])
        scaling[f"local[{cores}]"] = {
            "turns": n_scaling,
            "sec": round(wall, 3),
            "runs_sec": [round(w, 3) for w in walls[cores]],
            "turns_per_sec": round(n_scaling / wall, 1),
        }
    # efficiency from per-visit PAIRED ratios: each visit's [4, 16] runs
    # execute back-to-back under the same machine conditions, so their
    # ratio cancels drift that cross-visit minima would not
    per_visit = [
        round((n_scaling / w16) / (4 * (n_scaling / w4)), 3)
        for w4, w16 in zip(walls[4], walls[16])
    ]
    scaling["efficiency_per_visit"] = per_visit
    scaling["visit_probe_index"] = [round(p, 3) for p in visit_probe]
    clean = [r for r, p in zip(per_visit, visit_probe) if p <= VISIT_PROBE_MAX]
    scaling["contended_visits_excluded"] = len(per_visit) - len(clean)
    pool = clean if clean else per_visit  # all-contended: report, flagged
    scaling["efficiency_N_to_4N"] = sorted(pool)[len(pool) // 2]
    # supplementary data point: noise usually lowers a paired ratio
    # (the 16-wide level is more steal-sensitive) but can also inflate
    # one when the 4-wide run is the one hit (a >1.0 visit ratio has
    # been observed), so the gated MEDIAN above is the headline and the
    # best visit is reported as data only — over the probe-CLEAN pool,
    # so an excluded visit's inflated ratio cannot resurface here
    scaling["efficiency_best_visit"] = max(pool)

    detail = {
        "metric": "extraction turns/sec + headline query wall time",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf_label,
        "contention_index": max(contention_before["index"], contention_after["index"]),
        "contention": {"before": contention_before, "after": contention_after},
        "extraction": {
            "turns": turns,
            "turns_per_sec": round(turns / wall_full, 1),
            "pass_rate": pass_rate,
            "scaling": scaling,
        },
    }
    detail_path = Path(__file__).resolve().parent / "BENCH_DETAIL.json"
    detail_path.write_text(json.dumps(detail, indent=1) + "\n")

    # compact headline: slowest queries at a glance, everything else in
    # the sidecar; the size guard keeps the line parseable under the
    # driver's tail capture no matter how many queries future rounds add
    slowest = sorted(timings, key=timings.get, reverse=True)
    headline = {
        "metric": detail["metric"],
        "value": detail["value"],
        "unit": "sec",
        "queries": {k: timings[k] for k in slowest[:8]},
        "n_queries": len(timings),
        "sf": sf_label,
        "extraction": {
            "turns": turns,
            "turns_per_sec": round(turns / wall_full, 1),
            "pass_rate": pass_rate,
        },
        "scaling": {
            "efficiency_N_to_4N": scaling["efficiency_N_to_4N"],
            "hardware_ceiling_4_to_16": scaling["hardware_ceiling_4_to_16"],
            "contended_visits_excluded": scaling["contended_visits_excluded"],
            "turns_per_sec": {
                c: scaling[c]["turns_per_sec"] for c in ("local[4]", "local[16]")
            },
        },
        "contention_index": detail["contention_index"],
        "detail": "BENCH_DETAIL.json",
    }
    while len(json.dumps(headline)) > 1500 and headline["queries"]:
        headline["queries"].pop(min(headline["queries"], key=headline["queries"].get))
    print(json.dumps(headline))


if __name__ == "__main__":
    main()
