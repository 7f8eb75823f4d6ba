"""The ONE definition of every curation stage that the curate job
(jobs/curate_job.py) and the oracle queries (queries.py) share, so no
stage can drift between the job and what its DuckDB oracle checks:

- :func:`u32_md5` — the md5-derived uniform every sampler hashes with;
- :func:`mixture_keep` — the deterministic mixture sample
  (``mixture_sample``);
- :func:`quota_rank_per_group` — skew-safe keep-at-most-N per group
  (``source_quota_sample``, ``stratified_sample``, curate's
  ``source_quota``);
- :func:`holdout_split` — the leakage-safe train/holdout split on the
  near-dup group id (``cluster_split``);
- :func:`pack_sequences` — two-phase greedy sequence packing
  (``pack_sequences``).

Every sampler keeps the same determinism discipline — md5-hash
uniform, INTEGER thresholds, RNG-free and therefore
retry/engine-stable (CLAUDE.md invariant).

Mixture rule: source ``srcK`` keeps a document at rate 1 / 2^(K mod 4),
decided by the first 32 bits of md5(doc_id) against an integer
threshold (2^32 >> (K mod 4)).  The DuckDB oracle replicates the same
arithmetic verbatim.

Sources that do NOT match ``src([0-9]+)`` (e.g. ``wiki``) fall back to
K = 0, i.e. keep rate 1 — ``try_cast`` + ``coalesce`` so Spark's ANSI
mode cannot throw on ``CAST('' AS INT)`` and non-ANSI engines cannot
silently drop the row (ADVICE r3 medium).  The oracle mirrors the same
``TRY_CAST``/``COALESCE`` default.
"""

from __future__ import annotations


def u32_md5(col):
    """First 32 bits of md5(CAST(col AS STRING)) as a non-negative
    long — THE hash-uniform integer every deterministic sampler/router
    here derives from (mixture sampling, cluster splits, rendezvous
    ring buckets, the global shuffle, DSIR feature buckets).  ONE
    definition so no site can drift from the DuckDB replication:
    ``('0x' || substr(md5(CAST(x AS VARCHAR)), 1, 8))::UBIGINT``."""
    from pyspark.sql import functions as F

    if isinstance(col, str):
        col = F.col(col)
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10).cast(
        "long"
    )


def half_away(x: float) -> int:
    """Round half away from zero — DuckDB's round() semantics.  Python
    round() is banker's; every driver-side weight quantization (DSIR
    log-ratios, the quality classifier's log-odds) must mirror DuckDB
    exactly, so this is the ONE rounding used before shipping an
    integer score array into a plan."""
    import math

    return int(math.copysign(math.floor(abs(x) + 0.5), x))


def mixture_keep(id_col: str = "doc_id", source_col: str = "source"):
    """Boolean Column: does this (id, source) row survive the mixture
    sample?"""
    from pyspark.sql import functions as F

    u32 = u32_md5(id_col)
    threshold = F.expr(
        "shiftright(CAST(4294967296 AS BIGINT), "
        "coalesce(try_cast(regexp_extract("
        f"{source_col}, 'src([0-9]+)', 1) AS INT), 0) % 4)"
    )
    return u32 < threshold


def ring_params(n_pool: int, expect: int):
    """Rendezvous hash-ring sizing — ONE definition shared by
    negative_sample and contrastive_triplets (their oracles replicate
    it via :func:`ring_sql`): bucket count = largest power of two <=
    n / (2 * expect), so bucket population is ~2x the candidate
    budget.  Returns (n_buckets, shift); a key's bucket is
    u32_md5(key) >> shift."""
    p2 = max(1, n_pool // (2 * expect)).bit_length() - 1
    return 1 << p2, 32 - p2


def ring_sql(count_sql: str, expect: int) -> str:
    """The matching DuckDB CTE fragment (names ``nbp``/``ring`` with
    columns n_buckets, shift).  floor(log2(x)) == bit_length-1 for
    positive ints, so the two derivations are always equal."""
    return f"""nbp AS (
        SELECT CAST(floor(log2(greatest(({count_sql})
                                        // {2 * expect}, 1))) AS INT) AS p
    ), ring AS (
        SELECT (1 << p) AS n_buckets, 32 - p AS shift FROM nbp
    )"""


_QUOTA_SALTS = 8


def quota_rank_per_group(df, group_col: str, *, n: int):
    """Skew-safe keep-at-most-``n``-rows-per-group: rows ranked by
    (u32_md5(doc_id), doc_id), smallest first, annotated with ``quota_rank``
    (1..n) and filtered to the survivors.

    A single ``row_number() OVER (PARTITION BY group)`` funnels every
    row of a hot group through ONE task — a mega-domain straggler at
    corpus scale.  Two phases instead: rank within (group, salt) —
    ``_QUOTA_SALTS``-way parallel even for one group — keep <=n per
    bucket, then re-rank the <=n*_QUOTA_SALTS bounded survivors per
    group.  A row in the true global top-n has at most n-1 bucket-mates
    ahead of it, so it always survives phase 1 together with all its
    predecessors; phase-2 rank therefore EQUALS the one-window global
    rank (asserted against the naive window in tests, and what the
    one-window DuckDB oracle computes)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    h = u32_md5("doc_id")
    ranked = df.withColumn("_h", h).withColumn("_salt", h % _QUOTA_SALTS)
    local = Window.partitionBy(group_col, "_salt").orderBy("_h", "doc_id")
    survivors = ranked.withColumn("_lr", F.row_number().over(local)).where(
        F.col("_lr") <= n
    )
    final = Window.partitionBy(group_col).orderBy("_h", "doc_id")
    return (
        survivors.withColumn("quota_rank", F.row_number().over(final).cast("long"))
        .where(F.col("quota_rank") <= n)
        .drop("_h", "_salt", "_lr")
    )


def holdout_split(group_col: str):
    """String Column: 'holdout' when u32_md5(group) % 10 == 0 (~10% of
    groups), else 'train'.  Hashing the near-dup GROUP id, not the doc
    id, lands a whole component on one side, so no holdout doc has a
    near-dup in train."""
    from pyspark.sql import functions as F

    return F.when(u32_md5(group_col) % 10 == 0, F.lit("holdout")).otherwise(
        F.lit("train")
    )


_PACK_RANGES = 16


def pack_sequences(df, max_seq_len: int):
    """Greedy packing of (doc_id, n_tokens, ...) rows, in doc_id order,
    into sequences of ``max_seq_len`` tokens; documents may straddle a
    sequence boundary.  Returns (packed, total_tokens): ``packed`` is
    the input columns followed by ``start_seq``, ``offset_in_seq`` and
    ``spans``.

    Two-phase prefix sums, no global window: ``repartitionByRange``
    (sampled splits of the ACTUAL id distribution, so ranges stay
    balanced even when dedup and sampling carved holes in the id space)
    -> per-range token totals collected to the driver (<= _PACK_RANGES
    rows) -> exclusive offsets -> a running-sum window bounded by one
    range.  The eager ``localCheckpoint`` FREEZES the range assignment:
    the sampling pass is not guaranteed stable across jobs, and the
    totals collect and the caller's action are separate jobs — without
    it a boundary doc could change ranges between them and every offset
    in its range would silently shift.  On a cluster use checkpoint()/a
    staging table, same call site."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from .local import local_frame

    ranked = (
        df.repartitionByRange(_PACK_RANGES, "doc_id")
        .withColumn("rng", F.spark_partition_id().cast("long"))
        .localCheckpoint()
    )
    totals = {
        r["rng"]: r["tot"]
        for r in ranked.groupBy("rng").agg(F.sum("n_tokens").alias("tot")).collect()
    }
    offsets, acc = {}, 0
    for rng in sorted(totals):
        offsets[rng] = acc
        acc += totals[rng]
    off_df = F.broadcast(
        local_frame(
            df.sparkSession,
            [(int(k), int(v)) for k, v in offsets.items()] or [(0, 0)],
            "rng long, off long",
        )
    )
    win = (
        Window.partitionBy("rng")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    before = F.coalesce(F.sum("n_tokens").over(win), F.lit(0)) + F.col("off")
    packed = (
        ranked.join(off_df, "rng")
        .withColumn("before", before)
        .select(
            *df.columns,
            F.floor(F.col("before") / max_seq_len).cast("long").alias("start_seq"),
            (F.col("before") % max_seq_len).cast("long").alias("offset_in_seq"),
            (
                F.floor((F.col("before") + F.col("n_tokens") - 1) / max_seq_len)
                - F.floor(F.col("before") / max_seq_len)
                + 1
            )
            .cast("long")
            .alias("spans"),
        )
    )
    return packed, acc


def sqrt_rebalance_thresholds(counts: dict[str, int]) -> dict[str, int]:
    """Temperature-rebalance keep thresholds (XLM-R alpha-sampling with
    alpha = 1/2): target share q_g ~ sqrt(n_g), realized WITHOUT
    replacement by per-group keep rate r_g = sqrt(n_min / n_g) — the
    rarest group keeps everything, a group 100x larger keeps 10%.
    Returned as integer u32 thresholds (keep iff u32_md5(id) < t_g).

    alpha is pinned at 1/2 deliberately: IEEE-754 requires division
    and sqrt to be correctly rounded (pow is NOT), so
    ``floor(2^32 * sqrt(n_min / n_g))`` is bit-identical between
    Python, Spark and DuckDB — the engine-replication discipline every
    sampler here follows (CLAUDE.md)."""
    import math

    mn = min(counts.values())
    return {
        g: math.floor(4294967296 * math.sqrt(mn / c)) for g, c in counts.items()
    }
