#!/usr/bin/env python3
"""Benchmark: headline query walls, extraction throughput and core scaling.

Usage:
    python bench.py                                    # the full report
    python bench.py --queries NAME ... [--runs N] [--explain TAG]

Every size comes from the session the bench runs in: ``build_session``'s
core count (``SPARK_GRAFT_CPUS``, else ``os.cpu_count()``) is the top
scaling level 4N, and N = max(1, 4N // 4).  Transcript inputs are written
and read with the session's defaults, so Spark's byte-and-core split
packing is the one rule that sizes every scan.

The full report:
- every ``HEADLINE`` query's ``count()``, best of ``--runs`` (default 2),
  after one warm-up query;
- extraction plus verification of every turn against the payload pool,
  best of 2, with its ``pass_rate``;
- scaling evidence: the same extraction job at local[N] and local[4N],
  interleaved over ``SCALING_VISITS`` visits with a fresh session each,
  bracketed by contention probes.

It is written to BENCH_DETAIL.json next to this script and printed as
the last stdout line, one JSON object:
    {"metric": ..., "value": <total sec>, "unit": "sec",
     "queries": {<every query>: sec, "extraction": sec}, "sf": ...,
     "contention_index": ..., "contention": {...},
     "extraction": {"turns": N, "turns_per_sec": ..., "pass_rate": ...,
                    "scaling": {"local[N]": {...}, "local[4N]": {...},
                                "efficiency_N_to_4N": ..., ...}}}

``--queries`` times only the named queries with the same warm-up and
best-of-N loop and prints ``{"queries": {...}, "sf": ...}``; extraction
and scaling are skipped and BENCH_DETAIL.json is left as it is.
``--explain TAG`` also writes each query's formatted plan to
plans/r06/<name>_<TAG>.txt.  Per-query walls go to stderr as they land.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default: the machine's core count),
     SPARK_GRAFT_BENCH_TMP (transcript inputs; default
     /tmp/spark_graft_bench).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
BENCH_TMP = os.environ.get("SPARK_GRAFT_BENCH_TMP", "/tmp/spark_graft_bench")

# interleaved [N, 4N] scaling visits (min-wall per level; see
# scaling_evidence)
SCALING_VISITS = 5
# per-visit contention gate: healthy windows probe at ~1.0-1.15 (turbo
# droop only); noisy-neighbor episodes probe >1.3 and bias the paired
# efficiency DOWN (the 4N-wide level absorbs the steal)
VISIT_PROBE_MAX = 1.25

# headline query subset (one per operator family; the full oracle set
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


def _burn(_):
    t0 = time.perf_counter()
    x = 0
    for i in range(20_000_000):
        x += i
    return time.perf_counter() - t0


def _parallel_mean(n_procs: int) -> float:
    """Mean wall of one ``_burn`` in each of ``n_procs`` parallel processes
    (spawned: this process runs the JVM gateway's threads)."""
    import multiprocessing as mp

    with mp.get_context("spawn").Pool(n_procs) as pool:
        times = pool.map(_burn, range(n_procs))
    return sum(times) / n_procs


def _contention_probe(n_procs: int) -> dict:
    """Noisy-neighbor probe: a fixed pure-python burn, single-process and
    n_procs-parallel.  ``single_sec`` is comparable across runs on the
    same box; ``index`` = parallel-mean / single is ~1.0-1.2 on an idle
    box (turbo droop only) and >1.3 when neighbors are stealing cores."""
    single = _burn(0)
    mean_par = _parallel_mean(n_procs)
    return {
        "procs": n_procs,
        "single_sec": round(single, 3),
        "parallel_mean_sec": round(mean_par, 3),
        "index": round(mean_par / single, 3),
    }


def time_queries(spark, names, runs, explain_tag=None):
    """{name: best-of-``runs`` ``count()`` wall}, after one warm-up query
    so the first timed query does not absorb JVM and worker start-up."""
    from ds4sd_docling_tableformer_onnx_spark.queries import QUERIES

    QUERIES[HEADLINE[0]](spark, SF_DIR).count()
    timings = {}
    for name in names:
        fn = QUERIES[name]
        if explain_tag:
            frame = fn(spark, SF_DIR)
            plan = frame._sc._jvm.PythonSQLUtils.explainString(
                frame._jdf.queryExecution(), "formatted"
            )
            plan_dir = HERE / "plans" / "r06"
            plan_dir.mkdir(parents=True, exist_ok=True)
            (plan_dir / f"{name}_{explain_tag}.txt").write_text(plan)
        walls = []
        for _ in range(runs):
            spark.sparkContext.setJobDescription(f"bench:{name}")
            t0 = time.perf_counter()
            fn(spark, SF_DIR).count()
            walls.append(round(time.perf_counter() - t0, 3))
        timings[name] = min(walls)
        print(f"{name}: best={min(walls)} runs={walls}", file=sys.stderr, flush=True)
    return timings


def run_extraction(spark, input_path):
    """Extract and verify every turn; returns (turns, wall_sec, pass_rate)."""
    from pyspark.sql import functions as F

    from ds4sd_docling_tableformer_onnx_spark.operators.extract import (
        extract_transcripts,
        verify_against_pool,
    )
    from ds4sd_docling_tableformer_onnx_spark.sources.transcripts import (
        payload_pool_df,
    )

    t0 = time.perf_counter()
    verified = verify_against_pool(
        extract_transcripts(spark.read.parquet(input_path)), payload_pool_df(spark)
    )
    row = verified.agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("html_match"), 1).otherwise(0)).alias("matched"),
    ).first()
    wall = time.perf_counter() - t0
    return row["n"], wall, row["matched"] / max(row["n"], 1)


def write_transcripts(spark, path, n_turns, seed):
    """Generate ``n_turns`` transcript turns to ``path`` unless it exists."""
    from ds4sd_docling_tableformer_onnx_spark.sources.transcripts import (
        generate_transcripts,
    )

    if not Path(path).exists():
        generate_transcripts(spark, n_turns=n_turns, seed=seed).write.mode(
            "overwrite"
        ).parquet(path)


def scaling_evidence(big, scaling_path, warm_path):
    """The same extraction job at local[N] and local[4N] (4N = ``big``).

    The shared host has multi-minute noisy-neighbor episodes, so the
    levels are INTERLEAVED in time — [N, 4N] x SCALING_VISITS visits,
    fresh session each, warm run per session — and each level takes its
    least-contended (min-wall) sample.  The efficiency is the median of
    per-visit PAIRED ratios over the visits whose contention probe stays
    under VISIT_PROBE_MAX: a visit's two runs share machine conditions,
    and neighbor load hits the wider run harder, so contended visits
    bias the ratio downward instead of cancelling.  Excluded visits are
    counted, never silently dropped."""
    from ds4sd_docling_tableformer_onnx_spark.session import build_session

    small = max(1, big // 4)
    levels = (small, big)
    # pure-python ceiling for the ratio: core-count-dependent turbo
    # clocks alone can cost more than 10%, so no CPU-bound job can show
    # a better efficiency than this
    scaling = {"hardware_ceiling_N_to_4N": round(_parallel_mean(small) / _parallel_mean(big), 3)}
    runs = {c: [] for c in levels}
    visit_probe = []
    for _visit in range(SCALING_VISITS):
        # probe before AND after the visit (an episode can start
        # mid-visit) and gate on the max
        pre = _contention_probe(big)["index"]
        for cores in levels:
            s = build_session(app_name=f"bench-{cores}", cores=cores)
            s.sparkContext.setLogLevel("ERROR")
            run_extraction(s, warm_path)  # JIT + python worker spawn
            runs[cores].append(run_extraction(s, scaling_path))
            s.stop()
        visit_probe.append(max(pre, _contention_probe(big)["index"]))
    for cores in levels:
        turns, wall, pass_rate = min(runs[cores], key=lambda run: run[1])
        scaling[f"local[{cores}]"] = {
            "turns": turns,
            "sec": round(wall, 3),
            "runs_sec": [round(run[1], 3) for run in runs[cores]],
            "turns_per_sec": round(turns / wall, 1),
            "pass_rate": min(run[2] for run in runs[cores]),
        }
    per_visit = [
        round(w_small / (w_big * big / small), 3)
        for (_, w_small, _), (_, w_big, _) in zip(runs[small], runs[big])
    ]
    scaling["efficiency_per_visit"] = per_visit
    scaling["visit_probe_index"] = [round(p, 3) for p in visit_probe]
    clean = [r for r, p in zip(per_visit, visit_probe) if p <= VISIT_PROBE_MAX]
    scaling["contended_visits_excluded"] = len(per_visit) - len(clean)
    pool = clean if clean else per_visit  # all-contended: report, flagged
    scaling["efficiency_N_to_4N"] = sorted(pool)[len(pool) // 2]
    # data only: noise can also inflate one paired ratio (when the
    # N-wide run is the one hit), so the gated median is the headline
    scaling["efficiency_best_visit"] = max(pool)
    return scaling


def main(argv=None):
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--queries", nargs="+", metavar="NAME", help="time only these queries")
    parser.add_argument("--runs", type=int, default=2, help="timed runs per query (best kept)")
    parser.add_argument("--explain", metavar="TAG", help="also write plans/r06/<name>_<TAG>.txt")
    args = parser.parse_args(argv)

    from ds4sd_docling_tableformer_onnx_spark.session import build_session

    sf_label = Path(SF_DIR).name
    spark = build_session(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")
    if args.queries:
        timings = time_queries(spark, args.queries, args.runs, args.explain)
        spark.stop()
        print(json.dumps({"queries": timings, "sf": sf_label}))
        return

    cpus = spark.sparkContext.defaultParallelism
    n_turns = {
        "sf0.001": 500,
        "sf0.01": 5_000,
        "sf0.1": 50_000,
        # sf1 tier (scripts/make_sf1.py): 10x the sf0.1 corpus AND 10x
        # the extraction volume, so the sf1 bench exercises both axes
        "sf1": 500_000,
        "spark_graft_sf1": 500_000,
    }.get(sf_label, 5_000)
    # scaling evidence needs enough work that task overheads amortize,
    # but short enough that the interleaved visits fit the bench budget
    scaling_turns = max(n_turns, 80_000)
    input_path = f"{BENCH_TMP}/transcripts_{sf_label}_{n_turns}"
    scaling_path = f"{BENCH_TMP}/transcripts_scaling_{scaling_turns}"
    warm_path = f"{BENCH_TMP}/transcripts_warm_10000"
    write_transcripts(spark, input_path, n_turns, seed=42)
    write_transcripts(spark, scaling_path, scaling_turns, seed=43)
    write_transcripts(spark, warm_path, 10_000, seed=44)

    # contention probes bracket the timed block, so a wall regression
    # can be put down to neighbor load from the report alone
    contention_before = _contention_probe(cpus)
    timings = time_queries(spark, HEADLINE, args.runs, args.explain)
    # extraction at full parallelism (best of 2: damp scheduler noise)
    turns, wall_a, pass_rate = run_extraction(spark, input_path)
    _, wall_b, _ = run_extraction(spark, input_path)
    wall_full = min(wall_a, wall_b)
    timings["extraction"] = round(wall_full, 3)
    contention_after = _contention_probe(cpus)
    spark.stop()

    detail = {
        "metric": "extraction turns/sec + headline query wall time",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf_label,
        "contention_index": max(contention_before["index"], contention_after["index"]),
        "contention": {"before": contention_before, "after": contention_after},
        "extraction": {
            "turns": turns,
            "turns_per_sec": round(turns / wall_full, 1),
            "pass_rate": pass_rate,
            "scaling": scaling_evidence(cpus, scaling_path, warm_path),
        },
    }
    (HERE / "BENCH_DETAIL.json").write_text(json.dumps(detail, indent=1) + "\n")
    print(json.dumps(detail))


if __name__ == "__main__":
    main()
