#!/usr/bin/env python3
"""Cluster entrypoint: end-to-end training-data curation over a
documents table.

    spark-submit \
      --py-files dist/ds4sd_docling_tableformer_onnx_spark.zip \
      jobs/curate_job.py \
      --input  /path/or/table/of/documents \
      --output /path/for/curated/output \
      [--max-seq-len 2048] [--hamming 3] [--cores N]

Pipeline (each stage a documented scale shape, all oracle-checked in
queries.py at small scale; rejecting stages MARK rows on a drop ledger
whose two aggregates are the stats line — see ``curate``):

0. optional pre-stages: --rule-filter (C4/Gopher heuristic battery,
   pure codegen — the c4_filters oracle semantics),
   --strip-dup-substrings (exact substring dedup, Lee et al. 2021 —
   the dedup_substrings oracle semantics, text replaced in place),
   --quality-filter (hashed linear quality scorer trained on the raw
   corpus with rule-battery weak labels — the quality_classifier
   oracle semantics, docs scoring <= 0 drop) and --source-quota;
   the pre-dedup ledger is then materialized once;
1. near-dup GROUPS over the live rows: simhash signatures -> banded
   candidate pairs (hamming <= --hamming) -> connected components
   (hash-min label propagation) -> one canonical survivor per group
   (smallest doc_id);
2. hygiene (optional): --emb-input drops SemDeDup near-dups;
   --eval-input drops survivors sharing any word-8-gram with the
   benchmark table (broadcast-gram anti-join); --max-dup-frac drops
   survivors above the duplicated-span-fraction threshold;
3. quality + language signals on survivors (narrow map stages);
4. deterministic mixture sampling (md5-hash uniform per source —
   RNG-free, retry-stable); the post-dedup ledger is then
   materialized once;
5. sequence packing: greedy (seq, offset) slots into --max-seq-len
   token sequences via two-phase prefix sums (per-range partials +
   driver offsets — no global window task).

Output: parquet (or Iceberg table identifier on a configured cluster)
of (doc_id, source, lang, n_tokens, group_id, group_size, start_seq,
offset_in_seq, spans) for the surviving, sampled corpus + a JSON stats
line on stdout.

Local smoke run:
    python jobs/curate_job.py --input sf_dir_style --output /tmp/out \
        --sf-dir /root/testdata/sf0.001
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.append(str(Path(__file__).resolve().parent.parent))


def curate(
    spark,
    docs,
    max_seq_len: int = 2048,
    hamming: int = 3,
    eval_docs=None,
    max_dup_frac: float | None = None,
    emb_docs=None,
    sem_threshold: float = 0.85,
    sem_lists: int | None = None,
    rule_filter: bool = False,
    strip_substrings: bool = False,
    quality_filter: bool = False,
    source_quota: int | None = None,
    keep_best: bool = False,
):
    """documents (doc_id, text, lang, source, ...) -> curated, packed
    survivors.  Returns (result_df, stats_dict).

    Optional hygiene stages between dedup and sampling:
    - ``eval_docs``: drop survivors sharing any word-8-gram with this
      benchmark table (operators/contamination.decontaminate — anti-
      join against the broadcast eval gram set);
    - ``max_dup_frac``: drop survivors whose duplicated-span fraction
      (corpus doc-frequency >= 4 at word-8-gram granularity, over the
      pre-dedup live corpus) exceeds the threshold;
    - ``emb_docs``: (vec_id, embedding) rows keyed by doc_id — drop
      survivors the SemDeDup pass marks as semantic near-dups
      (operators/similarity.semantic_dedup: IVF clusters, within-
      cluster cosine > ``sem_threshold`` to a smaller id).  Catches
      paraphrase-level duplicates the token-level simhash stage
      cannot;
    - ``keep_best``: retention POLICY switch (the ``canonical_docs``
      oracle semantics): keep the LONGEST post-strip text per near-dup
      group (ties to the smaller doc_id) instead of the smallest id.
      Length is computed live (F.length) so a substring-stripped text
      competes with its true size, never a stale n_chars.

    Optional pre-dedup stages:
    - ``rule_filter``: drop documents failing the C4/Gopher heuristic
      battery (functions/rules.py — the same definition as the
      ``c4_filters`` oracle) before any expensive stage runs;
    - ``strip_substrings``: exact substring dedup (Lee et al. 2021;
      operators/contamination.strip_duplicated_substrings) — token
      spans covered by corpus-duplicated word 8-grams are removed from
      the text BEFORE the near-dup/signal stages, so every downstream
      token count sees the stripped corpus;
    - ``quality_filter``: fastText-style hashed linear quality scorer
      (operators/classifier.py — the ``quality_classifier`` oracle
      semantics): naive-Bayes log-odds weights trained on the RAW
      input corpus with the rule battery as weak labels (raw, so the
      labels are never degenerate when ``rule_filter`` also runs),
      then documents scoring <= 0 drop.  Generalizes the rule signal:
      a doc passing every rule but written in "bad-doc" vocabulary
      still drops;
    - ``source_quota``: cap every source at N docs (C4/RefinedWeb-style
      domain caps; functions/sampling.quota_rank_per_group — the
      ``source_quota_sample`` oracle semantics, skew-safe two-phase
      top-N by the shared md5-u32 rank; a NULL source is its own
      capped group).

    Every output row also carries ``split`` ('train'/'holdout', ~10%),
    hashed on the near-dup GROUP id so no holdout doc has a near-dup
    in train (the ``cluster_split`` oracle semantics).

    Accounting is a drop ledger: a rejecting stage sets ``drop_stage``
    to ``coalesce(drop_stage, stage unless keep)``, so the EARLIEST
    rejecting stage wins (rule, quality, quota | semantic,
    contaminated, repetitive, sampled_out) and NULL means live.  The
    strip, the quota rank, near-dup grouping and the span stats read
    only live rows.  Two eager ``localCheckpoint``s, one aggregate
    each, give every count: the pre-dedup ledger (every input row,
    after quota; the near-dup stage reads its live rows) gives
    ``input_docs``, ``rule_/quality_/quota_dropped`` and
    ``substring_tokens_removed`` (summed ``n_sub_removed``); the
    post-dedup ledger (canonical docs after the mixture sample; its
    live rows are packed) gives ``semantic_/contaminated_/
    repetitive_dropped`` and ``survivors_sampled``.  Non-canonical
    near-dups and ``sampled_out`` rows have no key; ``total_tokens``
    and ``sequences`` come from the packer.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ds4sd_docling_tableformer_onnx_spark.operators.contamination import (
        decontaminate,
        duplicated_span_stats,
        strip_duplicated_substrings,
    )
    from ds4sd_docling_tableformer_onnx_spark.operators.dedup import (
        simhash_candidates,
        simhash_column,
    )
    from ds4sd_docling_tableformer_onnx_spark.functions.sampling import (
        holdout_split,
        mixture_keep,
        pack_sequences,
        quota_rank_per_group,
    )
    from ds4sd_docling_tableformer_onnx_spark.operators.graph import dedup_groups
    from ds4sd_docling_tableformer_onnx_spark.functions.rules import (
        heuristic_rules,
        keep_all,
    )
    from ds4sd_docling_tableformer_onnx_spark.operators.classifier import (
        quality_scores,
        train_quality_weights,
    )
    from ds4sd_docling_tableformer_onnx_spark.operators.similarity import (
        semantic_dedup,
    )

    live = F.col("drop_stage").isNull()

    def mark(ledger, stage, keep):
        # a NULL keep rejects, exactly as where(keep) would drop the row
        rejected = F.when(keep, None).otherwise(F.lit(stage))
        return ledger.withColumn("drop_stage", F.coalesce("drop_stage", rejected))

    def mark_listed(ledger, stage, ids, keep_listed=False):
        # keep_listed: the frame lists the rows that stay, not the rejects;
        # distinct, so an id listed twice (a repeated vec_id in the
        # embeddings input) cannot duplicate its ledger row in the join
        flag = ids.select("doc_id").distinct().withColumn("_listed", F.lit(True))
        listed = F.col("_listed").isNotNull()
        keep = listed if keep_listed else ~listed
        return mark(ledger.join(flag, "doc_id", "left"), stage, keep).drop("_listed")

    ledger = docs.withColumn("drop_stage", F.lit(None).cast("string"))

    # 0a. heuristic rule battery (cheapest stage runs first: pure
    # codegen predicates, no shuffle — every doc dropped here skips the
    # gram/simhash stages entirely)
    if rule_filter:
        ledger = mark(ledger, "rule", keep_all(heuristic_rules("text")))

    # 0b. exact substring dedup over the live rows: strip corpus-
    # duplicated 8-gram spans from the text itself so the near-dup
    # signatures and every token count downstream see the deduplicated
    # corpus; rejected rows rejoin unchanged
    if strip_substrings:
        stripped = strip_duplicated_substrings(ledger.where(live))
        ledger = stripped.drop("n_tokens_pre").unionByName(
            ledger.where(~live), allowMissingColumns=True
        )

    # 0c. learned quality filter: train integer log-odds weights on the
    # RAW corpus (rule-battery weak labels — training after rule_filter
    # would see all-True labels), score the stripped text shuffle-free
    # (2 bounded-collect training aggs + 1 codegen scoring pass)
    if quality_filter:
        labeled = docs.where(F.col("text").isNotNull()).withColumn(
            "label", keep_all(heuristic_rules("text"))
        )
        weights = train_quality_weights(labeled)
        ledger = mark(
            quality_scores(ledger, weights), "quality", F.col("q_score") > 0
        ).drop("n_words", "q_score")

    # 0d. per-source quota over the live rows: cap any one domain's
    # share before the gram/simhash stages pay for its excess (two
    # bounded windows — cheap next to the near-dup joins)
    if source_quota is not None:
        kept = quota_rank_per_group(ledger.where(live), "source", n=source_quota)
        ledger = mark_listed(ledger, "quota", kept, keep_listed=True)

    # materialize the pre-dedup ledger once: its aggregate, the near-dup
    # stage, the keep_best window and the span stats all read it instead
    # of each re-running the rule/strip/quality/quota lineage
    ledger = ledger.localCheckpoint()
    sub_removed = F.sum("n_sub_removed") if strip_substrings else F.lit(0)
    pre = ledger.groupBy("drop_stage").agg(
        F.count("*").alias("n"), sub_removed.alias("sub")
    ).collect()
    docs = ledger.where(live).drop("drop_stage", "n_sub_removed")

    # 1. near-dup groups -> canonical survivor per group
    cand = simhash_candidates(simhash_column(docs), id_col="doc_id")
    edges = cand.where(F.col("hamming") <= hamming)
    groups = dedup_groups(docs, edges)
    joined = docs.join(groups, "doc_id")
    if keep_best:
        # canonical_docs policy: longest live text wins, ties to the
        # smaller id — ONE group-bounded window, same cost shape as
        # the min-id rule
        best_win = Window.partitionBy("group_id").orderBy(
            F.desc(F.length("text")), F.asc("doc_id")
        )
        keep_pred = F.row_number().over(best_win) == 1
    else:
        keep_pred = F.col("doc_id") == F.col("group_id")  # canonical = min id
    survivors = joined.withColumn("_keep", keep_pred).where("_keep").drop("_keep")
    ledger = survivors.withColumn("drop_stage", F.lit(None).cast("string"))

    # 2. hygiene: benchmark decontamination + duplicated-span filter +
    # optional embedding-level (SemDeDup) near-dup drop
    if emb_docs is not None:
        # cluster count scales with the corpus unless pinned (the
        # SemDeDup many-small-clusters recipe, same as the oracle
        # query): the within-cluster join is quadratic per cluster, so
        # a fixed 8 lists at real --emb-input sizes would either hit
        # max_cluster_rows (silently skipping dedup) or pay (n/8)^2
        if sem_lists is None:
            sem_lists = max(8, emb_docs.count() // 256)
        sem = semantic_dedup(
            emb_docs, threshold=sem_threshold, n_lists=sem_lists, seed=7
        )
        sem_dropped = sem.where(~F.col("kept")).withColumnRenamed("id", "doc_id")
        ledger = mark_listed(ledger, "semantic", sem_dropped)
    if eval_docs is not None:
        hits = decontaminate(survivors, eval_docs)
        ledger = mark_listed(ledger, "contaminated", hits)
    if max_dup_frac is not None:
        span_stats = duplicated_span_stats(docs)
        repetitive = span_stats.where(F.col("dup_frac") > max_dup_frac)
        ledger = mark_listed(ledger, "repetitive", repetitive)

    # 3. signals (narrow, shuffle-free) and the leakage-safe split
    # hashed on the GROUP id (cluster_split oracle semantics): an entire
    # near-dup component lands on one side.
    # 4. deterministic mixture sample: srcK keeps 1/2^(K%4) — the ONE
    # shared predicate (functions/sampling.py, same as the oracle
    # query); then materialize the post-dedup ledger once
    cols = ["doc_id", "source", "lang", "n_tokens", "group_id", "group_size", "split"]
    ledger = (
        ledger.withColumn("n_tokens", F.size(F.split("text", " ", -1)).cast("long"))
        .withColumn("split", holdout_split("group_id"))
        .transform(mark, "sampled_out", mixture_keep("doc_id", "source"))
        .select(*cols, "drop_stage")
        .localCheckpoint()
    )
    post = ledger.groupBy("drop_stage").agg(F.count("*").alias("n")).collect()

    # 5. two-phase sequence packing (functions/sampling.pack_sequences,
    # the pack_sequences oracle semantics) over the sampled survivors
    packed, total_tokens = pack_sequences(ledger.where(live).select(cols), max_seq_len)
    dropped = {r["drop_stage"]: r["n"] for r in pre + post if r["drop_stage"]}
    stats = {
        "input_docs": sum(r["n"] for r in pre),
        "rule_dropped": dropped.get("rule", 0),
        "substring_tokens_removed": sum(r["sub"] or 0 for r in pre),
        "quality_dropped": dropped.get("quality", 0),
        "quota_dropped": dropped.get("quota", 0),
        "contaminated_dropped": dropped.get("contaminated", 0),
        "repetitive_dropped": dropped.get("repetitive", 0),
        "semantic_dropped": dropped.get("semantic", 0),
        "survivors_sampled": sum(r["n"] for r in post if r["drop_stage"] is None),
        "total_tokens": total_tokens,
        "sequences": -(-total_tokens // max_seq_len),
    }
    return packed, stats


def main(argv=None):
    parser = argparse.ArgumentParser()
    parser.add_argument("--input", required=True)
    parser.add_argument("--output", required=True)
    parser.add_argument("--max-seq-len", type=int, default=2048)
    parser.add_argument("--hamming", type=int, default=3)
    parser.add_argument("--cores", type=int, default=None)
    parser.add_argument(
        "--eval-input", default=None,
        help="parquet path of a benchmark table (doc_id, text): drop "
        "survivors sharing any word-8-gram with it",
    )
    parser.add_argument(
        "--max-dup-frac", type=float, default=None,
        help="drop survivors whose duplicated-span fraction exceeds this",
    )
    parser.add_argument(
        "--emb-input", default=None,
        help="parquet of (vec_id, embedding) keyed by doc_id: drop "
        "survivors SemDeDup marks as semantic near-dups",
    )
    parser.add_argument(
        "--sem-threshold", type=float, default=0.85,
        help="within-cluster cosine above which a higher-id survivor drops",
    )
    parser.add_argument(
        "--sem-lists", type=int, default=None,
        help="IVF cluster count for the SemDeDup stage (default: "
        "max(8, n_embeddings // 256) — scales with the corpus)",
    )
    parser.add_argument(
        "--rule-filter", action="store_true",
        help="drop documents failing the C4/Gopher heuristic battery "
        "(functions/rules.py) before any expensive stage",
    )
    parser.add_argument(
        "--strip-dup-substrings", action="store_true",
        help="exact substring dedup: remove corpus-duplicated word "
        "8-gram spans from the text before the near-dup stages",
    )
    parser.add_argument(
        "--quality-filter", action="store_true",
        help="train the hashed linear quality scorer on the raw corpus "
        "(rule-battery weak labels) and drop docs scoring <= 0",
    )
    parser.add_argument(
        "--source-quota", type=int, default=None,
        help="cap every source at N docs (deterministic md5-u32 rank; "
        "skew-safe two-phase top-N) before the dedup stages",
    )
    parser.add_argument(
        "--keep-best", action="store_true",
        help="near-dup retention policy: keep the longest text per "
        "group (canonical_docs semantics) instead of the smallest id",
    )
    parser.add_argument(
        "--sf-dir", default=None,
        help="read documents from <sf-dir>/documents.parquet (smoke runs)",
    )
    args = parser.parse_args(argv)

    from ds4sd_docling_tableformer_onnx_spark.session import build_session

    spark = build_session(app_name="curate", cores=args.cores)
    spark.sparkContext.setLogLevel("WARN")
    src = f"{args.sf_dir}/documents.parquet" if args.sf_dir else args.input
    docs = spark.read.parquet(src)

    eval_docs = (
        spark.read.parquet(args.eval_input) if args.eval_input else None
    )
    emb_docs = spark.read.parquet(args.emb_input) if args.emb_input else None

    t0 = time.perf_counter()
    packed, stats = curate(
        spark,
        docs,
        max_seq_len=args.max_seq_len,
        hamming=args.hamming,
        eval_docs=eval_docs,
        max_dup_frac=args.max_dup_frac,
        emb_docs=emb_docs,
        sem_threshold=args.sem_threshold,
        sem_lists=args.sem_lists,
        rule_filter=args.rule_filter,
        strip_substrings=args.strip_dup_substrings,
        quality_filter=args.quality_filter,
        keep_best=args.keep_best,
        source_quota=args.source_quota,
    )
    packed.write.mode("overwrite").parquet(args.output)
    stats["wall_sec"] = round(time.perf_counter() - t0, 3)
    print(json.dumps(stats))


if __name__ == "__main__":
    main()
