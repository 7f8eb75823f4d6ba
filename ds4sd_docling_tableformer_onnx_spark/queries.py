"""Operator demonstration queries with DuckDB oracle SQL.

One entry per operator family from SURVEY §2 plus the training-data
pipeline operators (dedup / similarity / text analysis), each expressed
twice:

- a Spark DataFrame implementation (``QUERIES[name]`` — callable
  ``(spark, sf_dir) -> DataFrame``), written plan-first: broadcast
  joins for dims, window functions for ranking, built-in functions
  throughout (the one exception: the blocked embedding near-dup runs a
  vectorized numpy matmul per label group via applyInPandas — measured
  12x faster than the expression form, still value-equal to the SQL
  oracle);
- the equivalent ANSI SQL for DuckDB (``ORACLES[name]``).

Column names are aliased identically on both sides (driver compares by
sorted column name + value hash).  Float aggregates are rounded to fixed
decimals on both sides so engine-order summation noise cannot flip the
hash.
"""

from __future__ import annotations

from .functions.sampling import ring_sql
from .operators.dedup import BAND_BITS, BAND_MASK, N_BANDS
from .operators.similarity import _dot

QUERIES: dict = {}
ORACLES: dict = {}


def _register(name, fn, oracle=None):
    QUERIES[name] = fn
    if oracle is not None:
        ORACLES[name] = oracle


def _read(spark, sf_dir, table):
    """One sf table.  A local single-file table (every sf tier) is read
    with the schema its parquet footer declares, so building a query
    frame runs no schema-inference job; timestamps without a zone read
    as TIMESTAMP_NTZ, as Spark infers them.  Any other path (a
    Spark-written directory, an object store) keeps Spark's inference."""
    import os

    path = f"{sf_dir}/{table}.parquet"
    if not os.path.isfile(path):
        return spark.read.parquet(path)
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    schema = from_arrow_schema(pq.read_schema(path), prefer_timestamp_ntz=True)
    return spark.read.schema(schema).parquet(path)


def _work_dir(prefix):
    """A fresh scratch directory for a query that writes and reads back.

    The returned frame reads it lazily, so removal must outlive the
    caller's terminal action, which runs after the query returns:
    atexit, not try/finally (ADVICE r3: repeated sweeps leaked these
    dirs to /tmp)."""
    import atexit
    import shutil
    import tempfile

    work = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    return work


def _widen(df, bytes_per_part: int = 56 << 10):
    """Scale-adaptive scan widening for queries whose map side does
    heavy per-row expression work (gram hashing, fingerprinting, text
    shingling).  For plain scans only: it reads
    ``df.rdd.getNumPartitions()``, which under AQE runs every shuffle
    stage below a frame that has an exchange.  When the scan produced
    fewer partitions than the session's parallelism (bench-scale tables
    are single-row-group parquet files, so the whole map stage would run
    on ONE core), pay one tiny round-robin shuffle to spread it.  At
    corpus scale the scan already has >= parallelism splits and this is
    a no-op — the guide's rule that partitioning must derive from input
    size, not a constant.  Only used by queries whose aggregates are exact-integer
    or per-row (partition order never reaches a float sum).

    ``bytes_per_part``: widen PROPORTIONALLY to the scan's bytes (one
    partition per this many file bytes, capped at the session
    parallelism) instead of jumping straight to full parallelism.
    Per-task fixed costs (the ~170 ms python-exchange setup, Arrow
    framing, stage bookkeeping) make full-width tasks a net LOSS on
    small inputs: an r6 width sweep at sf0.1 (594 KB scan) measured
    a flat optimum at ~8-16 tasks across every widened query
    (quality_classifier 1.34s@32 -> 1.00s@8, dup_span_stats 0.79 ->
    0.60, decontaminate 0.87 -> 0.64, boilerplate 0.76 -> 0.57,
    bpe_pair_counts 0.60 -> 0.43), and the BPE merge loop — which
    pays the width once per ROUND — showed the same shape (plain
    2.34s / 4 parts 1.67s / 32 parts 2.86s at sf0.1, but 32 parts
    3.6s vs plain 19.3s at sf1).  The 56 KB default lands sf0.1 at
    ~11 parts and reaches full parallelism by ~1.8 MB of input;
    still scale-adaptive: a corpus-scale scan already has >=
    parallelism splits and returns untouched on the first check."""
    target = df.sparkSession.sparkContext.defaultParallelism
    current = df.rdd.getNumPartitions()
    if current >= target:
        return df
    import os
    from urllib.parse import urlparse

    total = None
    for uri in df.inputFiles():
        path = urlparse(uri).path or uri
        try:
            total = (total or 0) + os.path.getsize(path)
        except OSError:
            total = None  # non-local storage: assume big
            break
    if total is not None:
        # unknown size (total None) keeps full parallelism
        target = min(target, max(1, -(-total // bytes_per_part)))
        if current >= target:
            return df
    return df.repartition(target)


# ---------------------------------------------------------------------------
# Window / ordering family (W1-W5)
# ---------------------------------------------------------------------------

def q_dense_rank(spark, sf_dir):
    """W1: gapless re-indexing — dense_rank per partition key."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    orders = _read(spark, sf_dir, "orders")
    win = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        (F.dense_rank().over(win) - 1).cast("long").alias("order_rank"),
    )


_register(
    "dense_rank_reindex",
    q_dense_rank,
    """
    SELECT o_custkey, o_orderkey,
           dense_rank() OVER (PARTITION BY o_custkey
                              ORDER BY o_orderdate, o_orderkey) - 1 AS order_rank
    FROM orders
    """,
)


def q_topk_per_group(spark, sf_dir):
    """W5/A6: top-3 orders per customer, deterministic tie-break."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    orders = _read(spark, sf_dir, "orders")
    win = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(win))
        .where(F.col("rn") <= 3)
        .select(
            "o_custkey",
            "o_orderkey",
            F.round("o_totalprice", 4).alias("price"),
            F.col("rn").cast("int").alias("rn"),
        )
    )


_register(
    "topk_per_group",
    q_topk_per_group,
    """
    SELECT o_custkey, o_orderkey, round(o_totalprice, 4) AS price, rn
    FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               CAST(row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
        FROM orders
    )
    WHERE rn <= 3
    """,
)


def q_max_by(spark, sf_dir):
    """A6: max-by per key (final match assignment analog)."""
    from pyspark.sql import functions as F

    orders = _read(spark, sf_dir, "orders")
    best = (
        orders.groupBy("o_custkey")
        .agg(F.max(F.struct("o_totalprice", "o_orderkey")).alias("best"))
        .select(
            "o_custkey",
            F.col("best.o_orderkey").alias("best_order"),
            F.round("best.o_totalprice", 4).alias("best_price"),
        )
    )
    return best


_register(
    "max_by_per_key",
    q_max_by,
    """
    SELECT o_custkey, o_orderkey AS best_order, round(o_totalprice, 4) AS best_price
    FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
        FROM orders
    ) WHERE rn = 1
    """,
)


def q_running_sum(spark, sf_dir):
    """W3: running aggregate over an ordered stream (row segmentation
    analog — the OTSL 'nl' running-count maps to the same window)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    events = _read(spark, sf_dir, "events")
    win = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return events.select(
        "user_id",
        "event_id",
        F.round(F.sum("value").over(win), 4).alias("running_value"),
    )


_register(
    "running_sum",
    q_running_sum,
    """
    SELECT user_id, event_id,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_value
    FROM events
    """,
)


def q_sessionize(spark, sf_dir):
    """W3 variant: session segmentation via gap > 30 min (running count
    of boundaries — identical shape to OTSL row segmentation)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    events = _read(spark, sf_dir, "events")
    win = Window.partitionBy("user_id").orderBy("ts", "event_id")
    micros = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = micros - F.lag(micros, 1).over(win)
    boundary = F.when(gap.isNull() | (gap > 1_800_000_000), 1).otherwise(0)
    sessioned = events.withColumn("boundary", boundary).withColumn(
        "session_id",
        F.sum("boundary").over(
            win.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return sessioned.groupBy("user_id", "session_id").agg(
        F.count("*").cast("long").alias("n_events"),
        F.round(F.sum("value"), 4).alias("session_value"),
    )


_register(
    "sessionize",
    q_sessionize,
    """
    WITH flagged AS (
        SELECT user_id, event_id, value,
               CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w IS NULL
                     OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                    THEN 1 ELSE 0 END AS boundary,
               ts
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessioned AS (
        SELECT user_id, event_id, value,
               sum(boundary) OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM flagged
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           count(*) AS n_events, round(sum(value), 4) AS session_value
    FROM sessioned GROUP BY user_id, session_id
    """,
)


# ---------------------------------------------------------------------------
# Aggregation family (A1-A12)
# ---------------------------------------------------------------------------

def q_exact_median(spark, sf_dir):
    """A3: exact median per group (parity-critical in the extraction
    post-processor; percentile_approx would break it)."""
    from pyspark.sql import functions as F

    lineitem = _read(spark, sf_dir, "lineitem")
    return lineitem.groupBy("l_returnflag").agg(
        F.round(F.median("l_quantity"), 4).alias("median_qty"),
        F.round(F.median("l_extendedprice"), 4).alias("median_price"),
        F.count("*").cast("long").alias("n"),
    )


_register(
    "exact_median_per_group",
    q_exact_median,
    """
    SELECT l_returnflag,
           round(median(l_quantity), 4) AS median_qty,
           round(median(l_extendedprice), 4) AS median_price,
           count(*) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)


def q_pricing_summary(spark, sf_dir):
    """A1/A11 (TPC-H Q1 shape): wide aggregate per flag/status."""
    from pyspark.sql import functions as F

    li = _read(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("sum_disc_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").cast("long").alias("count_order"),
        )
    )


_register(
    "pricing_summary",
    q_pricing_summary,
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 4) AS sum_qty,
           round(sum(l_extendedprice), 4) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
           round(avg(l_discount), 6) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)


def q_filtered_revenue(spark, sf_dir):
    """P6/P8 + pushdown (TPC-H Q6 shape): selective predicate reaching
    the scan, single global aggregate."""
    from pyspark.sql import functions as F

    li = _read(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= "1995-01-01")
            & (F.col("l_shipdate") < "1996-01-01")
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 4).alias(
                "revenue"
            ),
            F.count("*").cast("long").alias("n"),
        )
    )


_register(
    "filtered_revenue",
    q_filtered_revenue,
    """
    SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue, count(*) AS n
    FROM lineitem
    WHERE l_shipdate >= '1995-01-01' AND l_shipdate < '1996-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
    """,
)


def q_percentiles(spark, sf_dir):
    """A11: avg / exact median / p95 per event type."""
    from pyspark.sql import functions as F

    events = _read(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.round(F.avg("value"), 4).alias("avg_value"),
        F.round(F.median("value"), 4).alias("median_value"),
        F.round(F.percentile("value", F.lit(0.95)), 4).alias("p95_value"),
    )


_register(
    "timing_percentiles",
    q_percentiles,
    """
    SELECT event_type,
           round(avg(value), 4) AS avg_value,
           round(median(value), 4) AS median_value,
           round(quantile_cont(value, 0.95), 4) AS p95_value
    FROM events GROUP BY event_type
    """,
)


def q_dim_join_rollup(spark, sf_dir):
    """J3/J4: broadcast equi-join chain through the dims + rollup."""
    from pyspark.sql import functions as F

    customer = _read(spark, sf_dir, "customer")
    nation = _read(spark, sf_dir, "nation")
    region = _read(spark, sf_dir, "region")
    return (
        customer.join(
            F.broadcast(nation), customer["c_nationkey"] == nation["n_nationkey"]
        )
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
        .groupBy("r_name")
        .agg(
            F.count("*").cast("long").alias("customers"),
            F.round(F.avg("c_acctbal"), 4).alias("avg_acctbal"),
        )
    )


_register(
    "dim_join_rollup",
    q_dim_join_rollup,
    """
    SELECT r_name, count(*) AS customers, round(avg(c_acctbal), 4) AS avg_acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)


def q_boilerplate_strip(spark, sf_dir):
    """North-star main-content extraction: synthesize a full page (nav /
    header / link-farm / footer chrome around the document text), strip
    it with the text-density + link-density block classifier, return the
    whitespace-normalized main text.  Value-checked oracle via the
    reconstruction fixed point: the stripper must return exactly the
    article text the page was synthesized around.  The fixed point holds
    by construction for any document with >= MIN_GOOD_WORDS words
    (synthesize_page escapes specials and merges sub-floor trailing
    paragraphs); shorter docs are filtered identically on both sides so
    a regenerated corpus cannot silently break the sweep."""
    from pyspark.sql import functions as F

    from .core.boilerplate import MIN_GOOD_WORDS
    from .operators.maincontent import strip_boilerplate_column, synthesize_pages

    # widened: per-doc python block classification, output per-row
    docs = _widen(_read(spark, sf_dir, "documents")).where(
        F.size(F.split(F.trim(F.col("text")), r"\s+")) >= MIN_GOOD_WORDS
    )
    stripped = strip_boilerplate_column(synthesize_pages(docs))
    return stripped.select(
        "doc_id",
        F.regexp_replace(F.col("main_text"), r"\s+", " ").alias("main_norm"),
    )


from .core.boilerplate import MIN_GOOD_WORDS as _MIN_GOOD_WORDS

_register(
    "boilerplate_strip",
    q_boilerplate_strip,
    rf"""
    SELECT doc_id, regexp_replace(trim(text), '\s+', ' ', 'g') AS main_norm
    FROM documents
    WHERE len(string_split_regex(trim(text), '\s+')) >= {_MIN_GOOD_WORDS}
    """,
)


def q_reading_order(spark, sf_dir):
    """North-star layout parse: place each document's words on a page
    grid (5 tokens/line, distinct line bands), run the reading-order
    clustering over the resulting pdf-cell tokens, and return the
    normalized ordered text.  Oracle fixed point: reading order must
    reconstruct the original word order."""
    from pyspark.sql import functions as F

    from .operators.maincontent import reading_order_spans

    # widened: per-doc python reading-order clustering, output per-row
    docs = _widen(_read(spark, sf_dir, "documents"))
    words = F.split(F.trim(F.col("text")), r"\s+")
    toks = F.transform(
        words,
        lambda w, i: F.struct(
            i.alias("id"),
            w.alias("text"),
            F.array(
                ((i % 5) * 20.0).cast("double"),
                (1000.0 - F.floor(i / 5) * 15.0).cast("double"),
                ((i % 5) * 20.0 + 10.0).cast("double"),
                (1000.0 - F.floor(i / 5) * 15.0 + 8.0).cast("double"),
            ).alias("bbox"),
        ),
    )
    tokenized = docs.select("doc_id", F.to_json(toks).alias("tokens_json"))
    spans = reading_order_spans(tokenized)
    return spans.select(
        "doc_id",
        F.regexp_replace(F.col("ordered_text"), r"\s+", " ").alias("ordered_norm"),
    )


_register(
    "reading_order",
    q_reading_order,
    r"""
    SELECT doc_id, regexp_replace(trim(text), '\s+', ' ', 'g') AS ordered_norm
    FROM documents
    """,
)


def q_anti_semi_join(spark, sf_dir):
    """Anti/semi joins — the resume/idempotence join shapes (S4:
    checkpoint anti-join drops done keys; the accounting pass is a
    left-semi count).  Oracle: orders with no lineitems (anti) and
    high-value orders with at least one large-quantity line (semi),
    rolled up per order status."""
    from pyspark.sql import functions as F

    orders = _read(spark, sf_dir, "orders")
    lineitem = _read(spark, sf_dir, "lineitem")
    no_lines = orders.join(
        lineitem, orders["o_orderkey"] == lineitem["l_orderkey"], "left_anti"
    ).select("o_orderstatus", F.lit(1).alias("is_orphan"))
    big_lines = lineitem.where(F.col("l_quantity") >= 45)
    with_big = orders.join(
        big_lines, orders["o_orderkey"] == big_lines["l_orderkey"], "left_semi"
    ).select("o_orderstatus", F.lit(0).alias("is_orphan"))
    return (
        no_lines.unionAll(with_big)
        .groupBy("o_orderstatus", "is_orphan")
        .agg(F.count("*").cast("long").alias("orders"))
    )


_register(
    "anti_semi_join",
    q_anti_semi_join,
    """
    WITH no_lines AS (
        SELECT o_orderstatus, 1 AS is_orphan FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
    ), with_big AS (
        SELECT o_orderstatus, 0 AS is_orphan FROM orders o
        WHERE EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 45)
    ), unioned AS (
        SELECT * FROM no_lines UNION ALL SELECT * FROM with_big
    )
    SELECT o_orderstatus, is_orphan, count(*) AS orders
    FROM unioned GROUP BY o_orderstatus, is_orphan
    """,
)


# ---------------------------------------------------------------------------
# Join family (J1/J2/J5-J8): theta, interval/band, adjacency self-join
# ---------------------------------------------------------------------------

def q_band_join(spark, sf_dir):
    """J5/J6: interval (band) join — per-nation account-balance band from
    customers, suppliers matched into the band (orphan pickup shape)."""
    from pyspark.sql import functions as F

    customer = _read(spark, sf_dir, "customer")
    supplier = _read(spark, sf_dir, "supplier")
    bands = customer.groupBy("c_nationkey").agg(
        F.min("c_acctbal").alias("lo"), F.max("c_acctbal").alias("hi")
    )
    joined = supplier.join(
        F.broadcast(bands),
        (supplier["s_nationkey"] == bands["c_nationkey"])
        & (supplier["s_acctbal"] >= bands["lo"])
        & (supplier["s_acctbal"] <= bands["hi"]),
    )
    return joined.groupBy("s_nationkey").agg(
        F.count("*").cast("long").alias("suppliers_in_band"),
        F.round(F.avg("s_acctbal"), 4).alias("avg_bal"),
    )


_register(
    "band_join",
    q_band_join,
    """
    WITH bands AS (
        SELECT c_nationkey, min(c_acctbal) AS lo, max(c_acctbal) AS hi
        FROM customer GROUP BY c_nationkey
    )
    SELECT s_nationkey, count(*) AS suppliers_in_band,
           round(avg(s_acctbal), 4) AS avg_bal
    FROM supplier JOIN bands
      ON s_nationkey = c_nationkey AND s_acctbal BETWEEN lo AND hi
    GROUP BY s_nationkey
    """,
)


def q_interval_overlap(spark, sf_dir):
    """J1/J2: theta join on interval overlap (the bbox intersection
    predicate in one dimension), scored by overlap length (iopdf
    analog: overlap / probe length).

    Factorized aggregation (r4, sf1-driven): the probe intervals take
    at most 50 distinct forms (s_suppkey % 50), so the pair enumeration
    the aggregate never needed collapses to |part| x 50 against a
    broadcast (form, multiplicity) table — the naive broadcast
    nested-loop went 37x for 10x data at sf1 because matching PAIRS are
    quadratic in this dense interval domain; the factorized plan is
    linear at any corpus size.  Overlap terms are integer-valued, so
    the weighted sum stays an exact integer and divides by 3 ONCE —
    the rounded score is bit-stable by construction, not by summation
    luck.  The oracle keeps the independent per-pair enumeration."""
    from pyspark.sql import functions as F

    part = _read(spark, sf_dir, "part")
    supplier = _read(spark, sf_dir, "supplier")
    p = part.select(
        "p_partkey",
        "p_brand",
        F.col("p_size").cast("double").alias("p_lo"),
        (F.col("p_size") + 5.0).alias("p_hi"),
    )
    s_forms = (
        supplier.select(
            (F.pmod(F.col("s_suppkey"), F.lit(50)).cast("double")).alias("s_lo"),
            (F.pmod(F.col("s_suppkey"), F.lit(50)) + 3.0).alias("s_hi"),
        )
        .groupBy("s_lo", "s_hi")
        .agg(F.count("*").alias("cnt"))
    )
    joined = p.join(
        F.broadcast(s_forms),
        (F.col("p_lo") < F.col("s_hi")) & (F.col("s_lo") < F.col("p_hi")),
    )
    overlap = (F.least("p_hi", "s_hi") - F.greatest("p_lo", "s_lo")).cast("long")
    return joined.groupBy("p_brand").agg(
        F.sum("cnt").cast("long").alias("pairs"),
        F.round(F.sum(overlap * F.col("cnt")) / 3.0, 4).alias("score"),
    )


_register(
    "interval_theta_join",
    q_interval_overlap,
    """
    WITH p AS (
        SELECT p_partkey, p_brand, CAST(p_size AS DOUBLE) AS p_lo,
               p_size + 5.0 AS p_hi
        FROM part
    ), s AS (
        SELECT s_suppkey, CAST(s_suppkey % 50 AS DOUBLE) AS s_lo,
               (s_suppkey % 50) + 3.0 AS s_hi
        FROM supplier
    )
    SELECT p_brand, count(*) AS pairs,
           round(sum(CAST(least(p_hi, s_hi) - greatest(p_lo, s_lo) AS BIGINT))
                 / 3.0, 4) AS score
    FROM p JOIN s ON p_lo < s_hi AND s_lo < p_hi
    GROUP BY p_brand
    """,
)


def q_adjacent_overlap(spark, sf_dir):
    """J8/SO2: adjacent-key self-join with set-intersection ratio (the
    duplicate-column elimination shape): shared event types between
    user u and u+1."""
    from pyspark.sql import functions as F

    events = _read(spark, sf_dir, "events")
    sets = events.select("user_id", "event_type").distinct()
    a = sets.alias("a")
    b = sets.alias("b")
    return (
        a.join(
            b,
            (F.col("b.user_id") == F.col("a.user_id") + 1)
            & (F.col("b.event_type") == F.col("a.event_type")),
        )
        .groupBy(F.col("a.user_id").alias("user_a"))
        .agg(F.count("*").cast("long").alias("shared_types"))
    )


_register(
    "adjacent_set_overlap",
    q_adjacent_overlap,
    """
    WITH s AS (SELECT DISTINCT user_id, event_type FROM events)
    SELECT a.user_id AS user_a, count(*) AS shared_types
    FROM s a JOIN s b
      ON b.user_id = a.user_id + 1 AND b.event_type = a.event_type
    GROUP BY a.user_id
    """,
)


# ---------------------------------------------------------------------------
# Scalar function family (F1-F12)
# ---------------------------------------------------------------------------

def q_regexp_span(spark, sf_dir):
    """F1/F2: span-attribute extraction — regexp over a constructed
    colspan token (the reference's exact pattern)."""
    from pyspark.sql import functions as F

    part = _read(spark, sf_dir, "part")
    token = F.concat(F.lit(' colspan="'), F.col("p_size").cast("string"), F.lit('"'))
    return part.select(
        "p_partkey",
        token.alias("span_token"),
        F.regexp_extract(token, '"([^"]*)"', 1).cast("int").alias("span_val"),
    )


_register(
    "regexp_span_extract",
    q_regexp_span,
    """
    SELECT p_partkey,
           concat(' colspan="', CAST(p_size AS VARCHAR), '"') AS span_token,
           CAST(regexp_extract(concat(' colspan="', CAST(p_size AS VARCHAR), '"'),
                               '"([^"]*)"', 1) AS INT) AS span_val
    FROM part
    """,
)


def q_payload_digests(spark, sf_dir):
    """F4: SHA-256 payload digests (the fixture equality contract)."""
    from pyspark.sql import functions as F

    docs = _read(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.sha2(F.col("text"), 256).alias("sha"),
        F.md5(F.col("text")).alias("md5"),
    )


_register(
    "payload_digests",
    q_payload_digests,
    """
    SELECT doc_id, sha256(text) AS sha, md5(text) AS md5 FROM documents
    """,
)


def q_bbox_iou(spark, sf_dir):
    """F6-F8: bbox intersection / IoU arithmetic via greatest/least with
    clipping — two synthetic boxes derived per lineitem row."""
    from pyspark.sql import functions as F

    li = _read(spark, sf_dir, "lineitem")
    ax1 = F.col("l_discount") * 100.0
    ay1 = F.col("l_tax") * 100.0
    ax2 = ax1 + F.col("l_quantity")
    ay2 = ay1 + 10.0
    bx1 = F.pmod(F.col("l_partkey").cast("double"), F.lit(10.0))
    by1 = F.pmod(F.col("l_suppkey").cast("double"), F.lit(10.0))
    bx2 = bx1 + 15.0
    by2 = by1 + 8.0
    iw = F.greatest(F.least(ax2, bx2) - F.greatest(ax1, bx1), F.lit(0.0))
    ih = F.greatest(F.least(ay2, by2) - F.greatest(ay1, by1), F.lit(0.0))
    inter = iw * ih
    area_a = (ax2 - ax1) * (ay2 - ay1)
    area_b = (bx2 - bx1) * (by2 - by1)
    denominator = area_a + area_b - inter
    iou = F.when(denominator > 0, inter / denominator).otherwise(F.lit(0.0))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(inter, 6).alias("inter_area"),
        F.round(iou, 6).alias("iou"),
    )


_register(
    "bbox_iou",
    q_bbox_iou,
    """
    WITH boxes AS (
        SELECT l_orderkey, l_linenumber,
               l_discount * 100.0 AS ax1, l_tax * 100.0 AS ay1,
               l_discount * 100.0 + l_quantity AS ax2, l_tax * 100.0 + 10.0 AS ay2,
               CAST(l_partkey % 10 AS DOUBLE) AS bx1,
               CAST(l_suppkey % 10 AS DOUBLE) AS by1,
               CAST(l_partkey % 10 AS DOUBLE) + 15.0 AS bx2,
               CAST(l_suppkey % 10 AS DOUBLE) + 8.0 AS by2
        FROM lineitem
    )
    SELECT l_orderkey, l_linenumber,
           round(greatest(least(ax2,bx2)-greatest(ax1,bx1), 0.0)
               * greatest(least(ay2,by2)-greatest(ay1,by1), 0.0), 6) AS inter_area,
           round(CASE WHEN (ax2-ax1)*(ay2-ay1) + (bx2-bx1)*(by2-by1)
                         - greatest(least(ax2,bx2)-greatest(ax1,bx1), 0.0)
                         * greatest(least(ay2,by2)-greatest(ay1,by1), 0.0) > 0
                 THEN greatest(least(ax2,bx2)-greatest(ax1,bx1), 0.0)
                    * greatest(least(ay2,by2)-greatest(ay1,by1), 0.0)
                    / ((ax2-ax1)*(ay2-ay1) + (bx2-bx1)*(by2-by1)
                       - greatest(least(ax2,bx2)-greatest(ax1,bx1), 0.0)
                       * greatest(least(ay2,by2)-greatest(ay1,by1), 0.0))
                 ELSE 0.0 END, 6) AS iou
    FROM boxes
    """,
)


# ---------------------------------------------------------------------------
# Text analysis (training-data pipeline operators)
# ---------------------------------------------------------------------------

_STOPWORDS = (
    "the a an of and or to in is are was for on with as at by it this that "
    "de la le les el en un una und der die das et du il est "
).split()

_LANG_MARKERS = [
    # (word, lang) heuristic marker table for n-gram-free language ID
    ("the", "en"), ("and", "en"), ("of", "en"), ("is", "en"), ("with", "en"),
    ("de", "es"), ("la", "es"), ("el", "es"), ("una", "es"), ("por", "es"),
    ("le", "fr"), ("les", "fr"), ("est", "fr"), ("du", "fr"), ("avec", "fr"),
    ("der", "de"), ("die", "de"), ("das", "de"), ("und", "de"), ("mit", "de"),
    ("shi", "zh"), ("zai", "zh"), ("he", "zh"), ("wei", "zh"), ("you", "zh"),
]


def q_token_count(spark, sf_dir):
    """Token counting: whitespace tokens + a BPE-ish sub-token estimate
    (chars/4 ceiling) — pure column expressions, no UDF."""
    from pyspark.sql import functions as F

    docs = _read(spark, sf_dir, "documents")
    ws_tokens = (
        F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
        + 1
    )
    return docs.select(
        "doc_id",
        ws_tokens.cast("long").alias("ws_tokens"),
        F.ceil(F.length("text") / 4.0).cast("long").alias("bpe_est"),
        F.length("text").cast("long").alias("n_chars"),
    )


_register(
    "token_count",
    q_token_count,
    """
    SELECT doc_id,
           length(text) - length(replace(text, ' ', '')) + 1 AS ws_tokens,
           CAST(ceil(length(text) / 4.0) AS BIGINT) AS bpe_est,
           length(text) AS n_chars
    FROM documents
    """,
)


def q_quality_score(spark, sf_dir):
    """Quality scoring: length, mean word length, stopword ratio,
    digit/punctuation density — the boilerplate/quality heuristics of a
    training-data pipeline, expressed as one explode + rollup."""
    from pyspark.sql import functions as F

    docs = _read(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id",
        F.explode(F.split(F.col("text"), " ")).alias("word"),
    )
    stop = F.when(F.col("word").isin(_STOPWORDS), 1.0).otherwise(0.0)
    per_doc = words.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_words"),
        F.round(F.avg(F.length("word")), 4).alias("avg_word_len"),
        F.round(F.avg(stop), 4).alias("stopword_ratio"),
    )
    digits = F.length(F.regexp_replace(F.col("text"), "[^0-9]", ""))
    flagged = docs.select(
        "doc_id", F.round(digits / F.length("text"), 4).alias("digit_ratio")
    )
    return per_doc.join(flagged, "doc_id").select(
        "doc_id", "n_words", "avg_word_len", "stopword_ratio", "digit_ratio"
    )


_register(
    "quality_score",
    q_quality_score,
    f"""
    WITH words AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ), per_doc AS (
        SELECT doc_id, count(*) AS n_words,
               round(avg(length(word)), 4) AS avg_word_len,
               round(avg(CASE WHEN word IN ({",".join("'" + w + "'" for w in _STOPWORDS)})
                         THEN 1.0 ELSE 0.0 END), 4) AS stopword_ratio
        FROM words GROUP BY doc_id
    )
    SELECT d.doc_id, n_words, avg_word_len, stopword_ratio,
           round(CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
                 / length(text), 4) AS digit_ratio
    FROM documents d JOIN per_doc p ON d.doc_id = p.doc_id
    """,
)


def q_lang_id(spark, sf_dir):
    """Language ID: marker-word voting, shuffle-free.

    The marker table is tiny and fixed, so the votes are per-row array
    expressions (tokenize once, `filter`+`size` per language) and the
    argmax is a `greatest` over (votes, lang) structs — the whole query
    is one narrow map stage with no explode, no join, no aggregation;
    at 100 TB it scans, votes and emits without a single shuffle.
    Tie-break (max votes, then max lang string) matches the dim-join +
    argmax formulation the oracle uses; docs with zero marker hits are
    dropped, as the oracle's inner join does."""
    from pyspark.sql import functions as F

    langs: dict[str, list[str]] = {}
    for word, lang in _LANG_MARKERS:
        langs.setdefault(lang, []).append(word)
    docs = _read(spark, sf_dir, "documents")
    tokens = docs.select(
        "doc_id", F.split(F.lower(F.col("text")), " ").alias("toks")
    )
    vote_structs = [
        F.struct(
            F.size(F.filter("toks", lambda t: t.isin(words)))
            .cast("long")
            .alias("votes"),
            F.lit(lang).alias("lang"),
        )
        for lang, words in sorted(langs.items())
    ]
    best = tokens.select("doc_id", F.greatest(*vote_structs).alias("b"))
    return best.filter(F.col("b.votes") > 0).select(
        "doc_id", F.col("b.lang").alias("pred_lang"), F.col("b.votes").alias("votes")
    )


_MARKER_VALUES = ",".join(f"('{w}','{lang}')" for w, lang in _LANG_MARKERS)

_register(
    "lang_id",
    q_lang_id,
    f"""
    WITH markers(word, lang) AS (VALUES {_MARKER_VALUES}),
    words AS (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word FROM documents
    ), votes AS (
        SELECT doc_id, lang, count(*) AS votes
        FROM words JOIN markers USING (word)
        GROUP BY doc_id, lang
    ), ranked AS (
        SELECT doc_id, lang, votes,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY votes DESC, lang DESC) AS rn
        FROM votes
    )
    SELECT doc_id, lang AS pred_lang, votes FROM ranked WHERE rn = 1
    """,
)


_FINGERPRINT_K = 8
# k-minimum-values sketch: two docs with word-set Jaccard J share each
# sketch slot with probability ~J, so P(identical k-min fingerprints for
# unrelated docs) <= J^k — at k=8 over 128-bit md5 values, accidental
# full-fingerprint collision for J<=0.5 is <= 0.4%, and distinct corpora
# are separated by any single differing slot.  k is one constant shared
# by both sides of the oracle.


def q_fingerprint(spark, sf_dir):
    """Document fingerprinting: k-minimum-values sketch (k=8) over word
    hashes (order-insensitive, dedup-friendly; see collision bound on
    _FINGERPRINT_K)."""
    from pyspark.sql import functions as F

    docs = _read(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("word")
    ).distinct()
    return (
        words.withColumn("h", F.md5("word"))
        .groupBy("doc_id")
        .agg(
            F.concat_ws(
                "|", F.slice(F.sort_array(F.collect_set("h")), 1, _FINGERPRINT_K)
            ).alias("fingerprint"),
            F.count("*").cast("long").alias("vocab"),
        )
    )


_register(
    "doc_fingerprint",
    q_fingerprint,
    f"""
    WITH words AS (
        SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS word
        FROM documents
    ), hashed AS (
        SELECT doc_id, md5(word) AS h FROM words
    )
    SELECT doc_id,
           array_to_string(list_sort(list(h))[1:{_FINGERPRINT_K}], '|') AS fingerprint,
           count(*) AS vocab
    FROM hashed GROUP BY doc_id
    """,
)


# ---------------------------------------------------------------------------
# Deduplication family
# ---------------------------------------------------------------------------

def q_exact_dedup(spark, sf_dir):
    """Exact dedup: hash-group on content digest, keep the minimum id
    (the canonical representative), count the copies."""
    from pyspark.sql import functions as F

    docs = _read(spark, sf_dir, "documents")
    return (
        docs.withColumn("h", F.md5("text"))
        .groupBy("h")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count("*").cast("long").alias("copies"),
        )
    )


_register(
    "exact_dedup",
    q_exact_dedup,
    """
    SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS copies
    FROM documents GROUP BY md5(text)
    """,
)


_MINHASH_PERMS = 8  # seeded hash functions; 2 bands x 4 rows


def q_minhash_lsh(spark, sf_dir):
    """MinHash + LSH banding over word shingles, no UDF: permutation i's
    hash of a word is md5(i || word); the signature is the per-doc min of
    each permutation; bands of 4 rows hash-concatenate into bucket keys;
    docs sharing a band bucket are near-dup candidates."""
    from pyspark.sql import functions as F

    from .operators.dedup import band_layout, band_pairs

    # widened: 8 md5 evaluations per distinct (doc, word) dominate the
    # map side; mins and string keys are partition-order-free.  The
    # per-doc distinct runs as array_distinct INSIDE the row (the
    # distinct (doc_id, word) set is exactly the union of per-doc
    # distinct word sets), replacing a full (doc, word) dedup shuffle.
    docs = _widen(_read(spark, sf_dir, "documents"))
    words = docs.select(
        "doc_id",
        F.explode(F.array_distinct(F.split(F.col("text"), " "))).alias("word"),
    )
    sigs = words.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(str(i) + "#"), F.col("word")))).alias(f"m{i}")
            for i in range(_MINHASH_PERMS)
        ]
    )
    # checkpointed: both sides of the band join would otherwise re-run
    # the signature aggregation
    layout = band_layout(
        sigs,
        F.array(
            F.concat_ws("|", "m0", "m1", "m2", "m3"),
            F.concat_ws("|", "m4", "m5", "m6", "m7"),
        ),
        "doc_id",
    ).localCheckpoint(eager=False)
    return band_pairs(layout, "doc_id").select(
        F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
    )


_MINHASH_SIG_SQL = ",".join(
    f"min(md5(concat('{i}#', word))) AS m{i}" for i in range(_MINHASH_PERMS)
)

_register(
    "minhash_lsh_pairs",
    q_minhash_lsh,
    f"""
    WITH words AS (
        SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS word
        FROM documents
    ), sigs AS (
        SELECT doc_id, {_MINHASH_SIG_SQL} FROM words GROUP BY doc_id
    ), banded AS (
        SELECT doc_id,
               md5(concat_ws('|', m0, m1, m2, m3)) AS band0,
               md5(concat_ws('|', m4, m5, m6, m7)) AS band1
        FROM sigs
    ), buckets AS (
        SELECT doc_id, band0 AS bucket FROM banded
        UNION ALL
        SELECT doc_id, band1 AS bucket FROM banded
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM buckets a JOIN buckets b
      ON a.bucket = b.bucket AND a.doc_id < b.doc_id
    """,
)


def q_word_jaccard(spark, sf_dir):
    """N-gram/word-set Jaccard for candidate pairs: doc i vs doc i+250
    (deterministic blocking keeps the pair count linear)."""
    from pyspark.sql import functions as F

    docs = _read(spark, sf_dir, "documents")
    # distinct word-set per doc as an array column: the explode/distinct/
    # re-join plan this replaces shuffled the corpus three times; here the
    # set algebra (intersect for |A&B|, union via inclusion-exclusion) is
    # per-pair array arithmetic after ONE equi-join on doc_id — at 100 TB
    # the only shuffle is the pair join itself
    sets = docs.select(
        "doc_id", F.array_distinct(F.split(F.col("text"), " ")).alias("words")
    )
    a, b = sets.alias("a"), sets.alias("b")
    pairs = a.join(b, F.col("b.doc_id") == F.col("a.doc_id") + 250)
    shared = F.size(F.array_intersect("a.words", "b.words"))
    union = F.size("a.words") + F.size("b.words") - shared
    return pairs.select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.round(shared.cast("double") / union, 6).alias("jaccard"),
    ).where(shared > 0)


_register(
    "word_jaccard_pairs",
    q_word_jaccard,
    """
    WITH words AS (
        SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS word
        FROM documents
    ), sizes AS (
        SELECT doc_id, count(*) AS n FROM words GROUP BY doc_id
    ), shared AS (
        SELECT a.doc_id AS doc_a, count(*) AS shared
        FROM words a JOIN words b
          ON b.doc_id = a.doc_id + 250 AND b.word = a.word
        GROUP BY a.doc_id
    )
    SELECT s.doc_a, s.doc_a + 250 AS doc_b,
           round(CAST(shared AS DOUBLE) / (sa.n + sb.n - shared), 6) AS jaccard
    FROM shared s
    JOIN sizes sa ON sa.doc_id = s.doc_a
    JOIN sizes sb ON sb.doc_id = s.doc_a + 250
    """,
)


_NGRAM = 5


def q_ngram_jaccard(spark, sf_dir):
    """Character n-gram (5-gram) Jaccard for candidate pairs — the
    shingle-level near-dup signal that survives word-boundary edits.
    Gram sets are per-row array expressions (sequence + substr, JVM-side
    whole-stage codegen, no explode/shuffle of the gram table); the only
    shuffle is the deterministic-blocking pair join, exactly as in
    word_jaccard_pairs."""
    from pyspark.sql import functions as F

    docs = _read(spark, sf_dir, "documents")
    n_pos = F.length("text") - (_NGRAM - 1)
    grams = F.when(
        n_pos >= 1,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), n_pos),
                lambda i: F.substr(F.col("text"), i, F.lit(_NGRAM)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    sets = docs.select("doc_id", grams.alias("grams"))
    a, b = sets.alias("a"), sets.alias("b")
    pairs = a.join(b, F.col("b.doc_id") == F.col("a.doc_id") + 250)
    shared = F.size(F.array_intersect("a.grams", "b.grams"))
    union = F.size("a.grams") + F.size("b.grams") - shared
    return pairs.select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        shared.cast("long").alias("shared_grams"),
        F.round(shared.cast("double") / union, 6).alias("jaccard"),
    ).where(shared > 0)


_register(
    "ngram_jaccard_pairs",
    q_ngram_jaccard,
    f"""
    WITH grams AS (
        SELECT DISTINCT doc_id, substr(text, pos, {_NGRAM}) AS g
        FROM (SELECT doc_id, text,
                     unnest(range(1, length(text) - {_NGRAM - 2})) AS pos
              FROM documents)
    ), sizes AS (
        SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id
    ), shared AS (
        SELECT a.doc_id AS doc_a, count(*) AS shared_grams
        FROM grams a JOIN grams b
          ON b.doc_id = a.doc_id + 250 AND b.g = a.g
        GROUP BY a.doc_id
    )
    SELECT s.doc_a, s.doc_a + 250 AS doc_b, s.shared_grams,
           round(CAST(s.shared_grams AS DOUBLE)
                 / (sa.n + sb.n - s.shared_grams), 6) AS jaccard
    FROM shared s
    JOIN sizes sa ON sa.doc_id = s.doc_a
    JOIN sizes sb ON sb.doc_id = s.doc_a + 250
    """,
)


# ---------------------------------------------------------------------------
# Similarity search (embeddings)
# ---------------------------------------------------------------------------

def q_ann_topk(spark, sf_dir):
    """Brute-force cosine top-10 vs a fixed query vector (vec_id 0) —
    the exact baseline every ANN variant is judged against.  The dot
    product stays JVM-side via zip_with/aggregate."""
    from pyspark.sql import functions as F

    emb = _read(spark, sf_dir, "embeddings")
    emb = emb.withColumn("e", F.col("embedding").cast("array<double>"))
    query = emb.where(F.col("vec_id") == 0).select(
        F.col("e").alias("q")
    )
    crossed = emb.where(F.col("vec_id") != 0).crossJoin(F.broadcast(query))
    sim = _dot(F.col("e"), F.col("q")) / (
        F.sqrt(_dot(F.col("e"), F.col("e"))) * F.sqrt(_dot(F.col("q"), F.col("q")))
    )
    return (
        crossed.select("vec_id", F.round(sim, 6).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(10)
    )


_register(
    "ann_cosine_topk",
    q_ann_topk,
    """
    WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0)
    SELECT vec_id,
           round(list_cosine_similarity(embedding::DOUBLE[], qe), 6) AS cosine
    FROM embeddings, q
    WHERE vec_id <> 0
    ORDER BY cosine DESC, vec_id ASC
    LIMIT 10
    """,
)


def q_embedding_neardup(spark, sf_dir):
    """Embedding near-dup: label-blocked candidate pairs with cosine
    above 0.25, counted per label.  The quadratic pairing runs as a
    vectorized numpy matmul per label group (``applyInPandas``) — the
    within-block analog of the per-turn spatial join; the LSH-bucketed
    variant in operators/similarity.py is the unblocked scale path."""
    import pandas as pd
    from pyspark.sql import functions as F

    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("e")
    )

    def per_label(key, pdf):
        import numpy as np

        pdf = pdf.sort_values("vec_id")
        mat = np.stack(pdf["e"].to_numpy()).astype(np.float64)
        norms = np.sqrt((mat * mat).sum(axis=1))
        cos = (mat @ mat.T) / np.outer(norms, norms)
        iu = np.triu_indices(len(mat), k=1)
        vals = cos[iu]
        hits = vals[vals > 0.25]
        return pd.DataFrame(
            {
                "label": [int(key[0])],
                "neardup_pairs": [int(hits.size)],
                "avg_cosine": [round(float(hits.mean()), 4) if hits.size else None],
            }
        )

    # label stays int32: the oracle's fetchdf carries the parquet dtype
    # through, and the two sides must agree exactly
    return emb.groupBy("label").applyInPandas(
        per_label, schema="label int, neardup_pairs long, avg_cosine double"
    )


_register(
    "embedding_neardup",
    q_embedding_neardup,
    """
    SELECT a.label AS label, count(*) AS neardup_pairs,
           round(avg(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[])), 4) AS avg_cosine
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) > 0.25
    GROUP BY a.label
    """,
)


# ---------------------------------------------------------------------------
# Multimodal plumbing (binary columns)
# ---------------------------------------------------------------------------

def q_binary_meta(spark, sf_dir):
    """Opaque binary payload + typed metadata: byte length and digest of
    the encoded payload (decode itself is the stubbed pandas-UDF path in
    operators/multimodal.py)."""
    from pyspark.sql import functions as F

    docs = _read(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "utf-8")
    return docs.select(
        "doc_id",
        F.length(payload).cast("long").alias("n_bytes"),
        F.sha2(payload, 256).alias("payload_sha"),
    )


_register(
    "binary_payload_meta",
    q_binary_meta,
    """
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           sha256(text) AS payload_sha
    FROM documents
    """,
)


# ---------------------------------------------------------------------------
# Remaining operator families: A2 (argmin alignment), A9 (array position /
# counts), SO1 (set union), F5 (base64)
# ---------------------------------------------------------------------------

def q_alignment_argmin(spark, sf_dir):
    """A2: column-alignment detection — per group compute three min-max
    deltas (left / middle / right anchors) and pick the label of the
    smallest (matching_post_processor.py:148-188 re-expressed)."""
    from pyspark.sql import functions as F

    li = _read(spark, sf_dir, "lineitem")
    x1 = F.col("l_discount") * 100.0
    x2 = x1 + F.col("l_quantity")
    boxes = li.select("l_returnflag", x1.alias("x1"), x2.alias("x2"))
    agg = boxes.groupBy("l_returnflag").agg(
        (F.max("x1") - F.min("x1")).alias("d_left"),
        (F.max((F.col("x1") + F.col("x2")) / 2) - F.min((F.col("x1") + F.col("x2")) / 2)).alias("d_mid"),
        (F.max("x2") - F.min("x2")).alias("d_right"),
    )
    smallest = F.least("d_left", "d_mid", "d_right")
    alignment = (
        F.when(F.col("d_left") == smallest, "left")
        .when(F.col("d_mid") == smallest, "middle")
        .otherwise("right")
    )
    return agg.select(
        "l_returnflag",
        F.round("d_left", 4).alias("d_left"),
        F.round("d_mid", 4).alias("d_mid"),
        F.round("d_right", 4).alias("d_right"),
        alignment.alias("alignment"),
    )


_register(
    "alignment_argmin",
    q_alignment_argmin,
    """
    WITH boxes AS (
        SELECT l_returnflag, l_discount * 100.0 AS x1,
               l_discount * 100.0 + l_quantity AS x2
        FROM lineitem
    ), agg AS (
        SELECT l_returnflag,
               max(x1) - min(x1) AS d_left,
               max((x1 + x2) / 2) - min((x1 + x2) / 2) AS d_mid,
               max(x2) - min(x2) AS d_right
        FROM boxes GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           round(d_left, 4) AS d_left, round(d_mid, 4) AS d_mid,
           round(d_right, 4) AS d_right,
           CASE WHEN d_left = least(d_left, d_mid, d_right) THEN 'left'
                WHEN d_mid = least(d_left, d_mid, d_right) THEN 'middle'
                ELSE 'right' END AS alignment
    FROM agg
    """,
)


def q_grid_counts(spark, sf_dir):
    """A9: array position / element counts — position of the first
    delimiter word and delimiter count per document (the OTSL
    num_cols/num_rows computation shape: index of first 'nl', count of
    'nl')."""
    from pyspark.sql import functions as F

    docs = _read(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    return docs.select(
        "doc_id",
        F.array_position(words, "data").cast("long").alias("first_delim"),
        F.size(F.filter(words, lambda w: w == F.lit("data"))).cast("long").alias("n_delim"),
        F.size(words).cast("long").alias("n_words"),
    )


_register(
    "grid_counts",
    q_grid_counts,
    """
    SELECT doc_id,
           CAST(coalesce(list_position(string_split(text, ' '), 'data'), 0) AS BIGINT) AS first_delim,
           CAST(len(list_filter(string_split(text, ' '), w -> w = 'data')) AS BIGINT) AS n_delim,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words
    FROM documents
    """,
)


def q_set_union(spark, sf_dir):
    """SO1: union-of-sets size for adjacent keys (the reference's
    a + (set(b) - set(a)) merge, matching_post_processor.py:602-605)."""
    from pyspark.sql import functions as F

    events = _read(spark, sf_dir, "events")
    sets = events.groupBy("user_id").agg(
        F.collect_set("event_type").alias("types")
    )
    a, b = sets.alias("a"), sets.alias("b")
    return (
        a.join(b, F.col("b.user_id") == F.col("a.user_id") + 1)
        .select(
            F.col("a.user_id").alias("user_a"),
            F.size(F.array_union(F.col("a.types"), F.col("b.types")))
            .cast("long")
            .alias("union_types"),
            F.size(F.array_intersect(F.col("a.types"), F.col("b.types")))
            .cast("long")
            .alias("shared_types"),
        )
    )


_register(
    "set_union_adjacent",
    q_set_union,
    """
    WITH s AS (SELECT DISTINCT user_id, event_type FROM events),
    users AS (SELECT DISTINCT user_id FROM s),
    pairs AS (
        SELECT a.user_id AS user_a FROM users a
        JOIN users b ON b.user_id = a.user_id + 1
    ),
    uni AS (
        SELECT p.user_a, s.event_type FROM pairs p JOIN s ON s.user_id = p.user_a
        UNION
        SELECT p.user_a, s.event_type FROM pairs p JOIN s ON s.user_id = p.user_a + 1
    ),
    union_counts AS (
        SELECT user_a, count(*) AS union_types FROM uni GROUP BY user_a
    ),
    shared AS (
        SELECT a.user_id AS user_a, count(*) AS shared_types
        FROM s a JOIN s b
          ON b.user_id = a.user_id + 1 AND b.event_type = a.event_type
        GROUP BY a.user_id
    )
    SELECT u.user_a, u.union_types,
           COALESCE(sh.shared_types, 0) AS shared_types
    FROM union_counts u LEFT JOIN shared sh USING (user_a)
    """,
)


def q_base64_payload(spark, sf_dir):
    """F5: base64 payload encoding (the fixture tensor-encoding contract;
    zlib stays inside the UDF boundary in the extraction pipeline)."""
    from pyspark.sql import functions as F

    docs = _read(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.base64(F.encode(F.substring("text", 1, 48), "utf-8")).alias("b64_head"),
    )


_register(
    "base64_payload",
    q_base64_payload,
    """
    SELECT doc_id, to_base64(encode(substring(text, 1, 48))) AS b64_head
    FROM documents
    """,
)


# ---------------------------------------------------------------------------
# SimHash near-dup candidates — full value oracle: the signature
# construction (md5 word hashes -> weighted-bit majority -> 4 x 16-bit
# LSH bands) is replicated in DuckDB SQL bit-for-bit, so the banded
# candidate pairs + hamming distances hash-match end to end.
# ---------------------------------------------------------------------------

def q_simhash_candidates(spark, sf_dir):
    """SimHash near-dup candidates over documents (operators/dedup.py):
    vectorized Arrow-batched signature UDF, then banded self-equi-join —
    the same one-shuffle LSH shape as MinHash banding."""
    from .operators.dedup import simhash_candidates, simhash_column

    docs = _read(spark, sf_dir, "documents")
    return simhash_candidates(simhash_column(docs))


# the full signature construction, shared by the dedup_groups oracle;
# the band layout comes from operators/dedup.py
_SIMHASH_PAIRS_SQL = f"""
    WITH words AS (
        -- regex whitespace split + empty drop == the operator's
        -- re.split(r'[\\t\\n\\f\\r ]+'): since r5 the Spark UDF pins
        -- tokenization to RE2's \\s class SPELLED OUT, so RE2 \\s here
        -- is definitionally identical on ANY corpus (Unicode NBSP and
        -- \\x0b vertical tab split on neither side — r4 advice low #1
        -- closed by construction, not by corpus assumption).
        SELECT DISTINCT doc_id, word
        FROM (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS word
              FROM documents)
        WHERE word <> ''
    ), hashed AS (
        -- first 8 bytes of md5(word), big-endian, as uint64 — identical
        -- to Python int.from_bytes(md5(word).digest()[:8], 'big')
        SELECT doc_id, ('0x' || substr(md5(word), 1, 16))::UBIGINT AS h
        FROM words
    ), bit_acc AS (
        SELECT doc_id, b,
               sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS acc
        FROM hashed, range(64) t(b)
        GROUP BY doc_id, b
    ), word_sigs AS (
        SELECT doc_id,
               sum(CASE WHEN acc > 0 THEN (1::UBIGINT << b)
                        ELSE 0::UBIGINT END)::UBIGINT AS sig
        FROM bit_acc GROUP BY doc_id
    ), sigs AS (
        -- wordless/empty docs still carry signature 0 and enter the
        -- band join, exactly as the operator does
        SELECT d.doc_id, COALESCE(w.sig, 0::UBIGINT) AS sig
        FROM documents d LEFT JOIN word_sigs w ON w.doc_id = d.doc_id
    ), bands AS (
        SELECT doc_id, sig, i, (sig >> ({BAND_BITS} * i)) & {BAND_MASK} AS band
        FROM sigs, range({N_BANDS}) t(i)
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
    FROM bands a JOIN bands b
      ON a.i = b.i AND a.band = b.band AND a.doc_id < b.doc_id
    """

_register("simhash_candidates", q_simhash_candidates, _SIMHASH_PAIRS_SQL)


# ---------------------------------------------------------------------------
# LSH ANN top-k — full value oracle: the hyperplanes are hash-derived
# (md5 -> uniform[-1,1)), not RNG-stream-derived, precisely so the whole
# approximate path (bucketing, multiprobe, candidate scoring) is
# reproducible in DuckDB SQL and value-checked, not just rows-counted.
# ---------------------------------------------------------------------------

_LSH_PLANES = 8
_LSH_SEED = 42


def q_lsh_ann(spark, sf_dir):
    """Approximate cosine top-10 via sign-LSH bucket probing
    (operators/similarity.py): only buckets within one bit flip of the
    query's bucket are scored — at 100 TB the candidate scan reads
    ~(n_probes/2^n_planes) of the corpus via one equi-join."""
    from .operators.similarity import lsh_bucketed_topk

    emb = _read(spark, sf_dir, "embeddings")
    query = emb.where("vec_id = 0").first()["embedding"]
    return lsh_bucketed_topk(
        emb.where("vec_id <> 0"), list(query), k=10,
        n_planes=_LSH_PLANES, seed=_LSH_SEED, multiprobe=1,
    )


_register(
    "lsh_ann_topk",
    q_lsh_ann,
    f"""
    WITH dims AS (
        SELECT vec_id, unnest(embedding)::DOUBLE AS val,
               unnest(range(len(embedding))) AS d
        FROM embeddings
    ), planes AS (
        -- hash-derived hyperplane weights, identical to
        -- operators/similarity.py hash_planes(dim, {_LSH_PLANES}, {_LSH_SEED});
        -- the dimension bound comes from the data itself (DISTINCT d of
        -- the unnested embeddings), not a hardcoded width, so a corpus
        -- regenerated at a different dim keeps the oracle in lockstep
        SELECT p, d,
               (('0x' || substr(md5(concat('{_LSH_SEED}#', p, '#', d)), 1, 16))::UBIGINT
                / 18446744073709551616.0) * 2.0 - 1.0 AS w
        FROM range({_LSH_PLANES}) tp(p), (SELECT DISTINCT d FROM dims) td
    ), dots AS (
        SELECT dims.vec_id, planes.p, sum(dims.val * planes.w) AS dot
        FROM dims JOIN planes ON planes.d = dims.d
        GROUP BY dims.vec_id, planes.p
    ), buckets AS (
        SELECT vec_id,
               CAST(sum(CASE WHEN dot > 0 THEN (1 << p) ELSE 0 END) AS INT) AS bucket
        FROM dots GROUP BY vec_id
    ), qkey AS (
        SELECT bucket AS qb FROM buckets WHERE vec_id = 0
    ), probes AS (
        SELECT qb AS key FROM qkey
        UNION
        SELECT xor(qb, CAST(1 << bit AS INT)) FROM qkey, range({_LSH_PLANES}) t(bit)
    ), cands AS (
        SELECT b.vec_id FROM buckets b JOIN probes pr ON b.bucket = pr.key
        WHERE b.vec_id <> 0
    ), q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           round(list_cosine_similarity(e.embedding::DOUBLE[], q.qe), 6) AS cosine
    FROM embeddings e JOIN cands c ON c.vec_id = e.vec_id CROSS JOIN q
    ORDER BY cosine DESC, e.vec_id ASC
    LIMIT 10
    """,
)


_LSH_MAX_BUCKET = 10_000  # oversized-bucket guard; never binds on the
# near-uniform synthetic corpus (2^8 buckets x sf0.1's 2000 rows ~ 8
# rows/bucket) but the semantics are mirrored in the oracle so a future
# skewed corpus keeps both sides in lockstep


def q_lsh_neardup(spark, sf_dir):
    """Unblocked embedding near-dup pairs at scale: same-bucket
    (sign-LSH) candidates scored exactly, cosine > 0.25 kept — one
    self-equi-join on the bucket key instead of all-pairs
    (operators/similarity.py:lsh_neardup_pairs), with the
    oversized-bucket cap engaged (and replicated in the oracle)."""
    from .operators.similarity import lsh_neardup_pairs

    emb = _read(spark, sf_dir, "embeddings")
    return lsh_neardup_pairs(
        emb, threshold=0.25, n_planes=_LSH_PLANES, seed=_LSH_SEED,
        max_bucket_rows=_LSH_MAX_BUCKET,
    )


_register(
    "lsh_neardup_pairs",
    q_lsh_neardup,
    f"""
    WITH dims AS (
        SELECT vec_id, unnest(embedding)::DOUBLE AS val,
               unnest(range(len(embedding))) AS d
        FROM embeddings
    ), planes AS (
        -- dimension bound derived from the data (see lsh_ann_topk)
        SELECT p, d,
               (('0x' || substr(md5(concat('{_LSH_SEED}#', p, '#', d)), 1, 16))::UBIGINT
                / 18446744073709551616.0) * 2.0 - 1.0 AS w
        FROM range({_LSH_PLANES}) tp(p), (SELECT DISTINCT d FROM dims) td
    ), dots AS (
        SELECT dims.vec_id, planes.p, sum(dims.val * planes.w) AS dot
        FROM dims JOIN planes ON planes.d = dims.d
        GROUP BY dims.vec_id, planes.p
    ), buckets AS (
        SELECT vec_id,
               CAST(sum(CASE WHEN dot > 0 THEN (1 << p) ELSE 0 END) AS INT) AS bucket
        FROM dots GROUP BY vec_id
    ), kept AS (
        -- the oversized-bucket cap: buckets above {_LSH_MAX_BUCKET}
        -- rows are excluded from the pair join (lsh_neardup_pairs's
        -- max_bucket_rows guard, mirrored exactly)
        SELECT b.vec_id, b.bucket
        FROM buckets b
        JOIN (SELECT bucket, count(*) AS cnt FROM buckets GROUP BY bucket) c
          ON c.bucket = b.bucket
        WHERE c.cnt <= {_LSH_MAX_BUCKET}
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(ea.embedding::DOUBLE[],
                                        eb.embedding::DOUBLE[]), 6) AS cosine
    FROM kept a
    JOIN kept b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    JOIN embeddings ea ON ea.vec_id = a.vec_id
    JOIN embeddings eb ON eb.vec_id = b.vec_id
    WHERE round(list_cosine_similarity(ea.embedding::DOUBLE[],
                                       eb.embedding::DOUBLE[]), 6) > 0.25
    """,
)


# ---------------------------------------------------------------------------
# IVF ANN top-k — asserted-in-query oracle: the k-means quantizer is an
# iterative algorithm DuckDB can't replicate, so the query itself joins
# the IVF result against the exact top-k (whose own oracle is
# ann_cosine_topk) and emits the recall verdict as checkable values.
# ---------------------------------------------------------------------------

def q_ivf_ann(spark, sf_dir):
    """IVF top-10 recall verdict vs the exact scan: probes 6 of 8
    inverted lists (nprobe/n_lists of the corpus, partition-pruned when
    stored bucketed by ivf_list — tests/test_plans.py proves the pruned
    store) and must recover >= 5 of the exact top-10.  Both sides
    computed in-plan; the driver value-checks the verdict row.

    nprobe=6 (not 4) because the synthetic embeddings are near-uniform
    (no cluster structure — measured hits across sf0.001/0.01/0.1:
    8/10/6 at nprobe=6 vs 7/7/4 at nprobe=4); on clustered corpora the
    probe can be far narrower for the same recall."""
    from pyspark.sql import functions as F

    from .operators.similarity import cosine_topk, ivf_topk

    emb = _read(spark, sf_dir, "embeddings")
    query = list(emb.where("vec_id = 0").first()["embedding"])
    rest = emb.where("vec_id <> 0")
    exact = cosine_topk(rest, query, k=10).select(
        "vec_id", F.lit(1).alias("is_exact")
    )
    approx = ivf_topk(rest, query, k=10, n_lists=8, nprobe=6, seed=7)
    return (
        approx.join(F.broadcast(exact), "vec_id", "left")
        .agg(
            F.lit("ivf").alias("method"),
            F.count("*").cast("long").alias("n_results"),
            (F.sum(F.coalesce(F.col("is_exact"), F.lit(0))) >= 5).alias("recall_ok"),
        )
    )


_register(
    "ivf_ann_topk",
    q_ivf_ann,
    """
    SELECT 'ivf' AS method, CAST(10 AS BIGINT) AS n_results, TRUE AS recall_ok
    """,
)


# ---------------------------------------------------------------------------
# Multimodal feature stub — value oracle over byte histograms: the
# stubbed decode is a bucket-16 byte histogram, which DuckDB reproduces
# from the text bytes; counts (not float fractions) are compared so the
# check is exact with no rounding-tie exposure.
# ---------------------------------------------------------------------------

def q_media_features(spark, sf_dir):
    """Binary media plumbing (operators/multimodal.py): utf-8 payload ->
    16-d stub feature via mapInPandas, exploded to (bucket, byte_count)
    rows so every value is driver-canonicalizable and exactly checkable.

    Both sides restrict to ASCII docs (char length == byte length): the
    DuckDB oracle reads per-CHAR codepoints (ord) while the operator
    histograms per-BYTE, and the two only coincide on ASCII — the
    symmetric filter makes the oracle hold for any future corpus (the
    operator itself is byte-true for arbitrary payloads; unit-tested)."""
    from pyspark.sql import functions as F

    from .operators.multimodal import extract_media_features

    docs = (
        _read(spark, sf_dir, "documents")
        .where(F.length("text") == F.octet_length("text"))
        .select("doc_id", F.encode(F.col("text"), "utf-8").alias("blob"))
    )
    feats = extract_media_features(docs, "doc_id", "blob", kind="image")
    exploded = feats.select(
        "item_id",
        "n_bytes",
        "kind",
        "ok",
        F.posexplode("feature").alias("bucket", "frac"),
    )
    # feature[b] = count_b / n_bytes (float64); count_b < 2^52 so the
    # round-trip back to the integer count is exact
    return exploded.select(
        "item_id",
        "n_bytes",
        "kind",
        "ok",
        F.col("bucket").cast("long").alias("bucket"),
        F.round(F.col("frac") * F.col("n_bytes"))
        .cast("long")
        .alias("byte_count"),
    )


_register(
    "media_feature_stub",
    q_media_features,
    """
    WITH ascii_docs AS (
        SELECT doc_id, text FROM documents
        WHERE length(text) = octet_length(encode(text))
    ), bytes AS (
        SELECT doc_id, length(text) AS n,
               ord(substring(text, pos, 1)) % 16 AS bucket
        FROM (SELECT doc_id, text,
                     unnest(range(1, length(text) + 1)) AS pos
              FROM ascii_docs)
    ), hist AS (
        SELECT doc_id, bucket, count(*) AS c
        FROM bytes GROUP BY doc_id, bucket
    ), grid AS (
        SELECT d.doc_id, length(d.text) AS n, t.bucket
        FROM ascii_docs d, range(16) t(bucket)
    )
    SELECT g.doc_id AS item_id,
           CAST(g.n AS BIGINT) AS n_bytes,
           'image' AS kind,
           g.n > 0 AS ok,
           g.bucket AS bucket,
           CAST(COALESCE(h.c, 0) AS BIGINT) AS byte_count
    FROM grid g LEFT JOIN hist h ON h.doc_id = g.doc_id AND h.bucket = g.bucket
    """,
)


# ---------------------------------------------------------------------------
# Layout detection (N6) — value oracle through the full inference tail:
# a deterministic stand-in model (logits = exact rationals from channel
# byte sums) drives detect_layout's real plumbing (pixel decode, DETR
# softmax + no-object slot, 0.25 threshold, score-descending ids, box
# denormalization), and DuckDB replicates every step from the text
# bytes.  Same discipline as media_feature_stub: the codec/model is
# stubbed, the Spark-side inference tail is real and exactly checked.
# ---------------------------------------------------------------------------

def _layout_stub_predict(pixels, width, height):
    """Deterministic stand-in detector (BATCHED contract, like the real
    ONNX binding): reconstruct the image bytes from the normalized
    pixels, derive three query logits per image from exact integer
    channel sums (s/2^k rationals — bit-identical in any engine), run
    the real DETR post-process per image.  One call per same-shape
    stack — the oracle-checked query exercises the batched path."""
    import numpy as np

    from .operators.detector import detr_postprocess

    byte_vals = np.rint(pixels * 255.0).astype(np.int64)  # (B, 3, 8, 8)
    sums = byte_vals.reshape(len(pixels), 3, -1).sum(axis=2)
    boxes = np.array(
        [
            [0.5, 0.5, 0.25, 0.25],
            [0.25, 0.75, 0.5, 0.25],
            [0.5, 0.5, 1.0, 1.0],
        ]
    )
    outs = []
    for s in sums:
        logits = np.array(
            [
                [s[0] / 2048.0, s[1] / 2048.0, 0.0],
                [s[2] / 4096.0, s[0] / 4096.0, 1.0],
                [0.0, 0.0, 3.0],  # no-object dominant: always dropped
            ]
        )
        outs.append(detr_postprocess(logits, boxes, width, height))
    return outs


_layout_stub_predict.batched = True


def q_layout_detect(spark, sf_dir):
    """N6 inference tail over synthetic 8x8 RGB 'pages' (first 192 utf-8
    bytes of each document, text repeated to cover): one narrow
    mapInPandas stage emitting one row per surviving detection."""
    from pyspark.sql import functions as F

    from .operators.detector import detect_layout

    # symmetric guards, like media_feature_stub: ASCII-only (the oracle
    # reads per-CHAR ord, the operator per-BYTE) and length >= 39 so
    # repeat(text, 5) covers the 192 bytes an 8x8x3 image needs
    docs = (
        _read(spark, sf_dir, "documents")
        .where(
            (F.length("text") == F.octet_length("text"))
            & (F.length("text") >= 39)
        )
        .select(
            F.col("doc_id").alias("image_id"),
            F.encode(F.substring(F.repeat("text", 5), 1, 192), "utf-8").alias("image"),
            F.lit(8).alias("height"),
            F.lit(8).alias("width"),
        )
    )
    dets = detect_layout(docs, predict_fn=_layout_stub_predict)
    return dets.select(
        "image_id",
        "det_id",
        "label",
        F.round("score", 6).alias("score"),
        F.round("x0", 6).alias("x0"),
        F.round("y0", 6).alias("y0"),
        F.round("x1", 6).alias("x1"),
        F.round("y1", 6).alias("y1"),
    )


_register(
    "layout_detect_stub",
    q_layout_detect,
    """
    WITH rep AS (
        SELECT doc_id, substr(repeat(text, 5), 1, 192) AS s FROM documents
        WHERE length(text) = octet_length(encode(text)) AND length(text) >= 39
    ), bytes AS (
        SELECT doc_id, (pos - 1) % 3 AS ch, ord(substr(s, pos, 1)) AS b
        FROM (SELECT doc_id, s, unnest(range(1, 193)) AS pos FROM rep)
    ), sums AS (
        SELECT doc_id,
               sum(CASE WHEN ch = 0 THEN b ELSE 0 END) AS s0,
               sum(CASE WHEN ch = 1 THEN b ELSE 0 END) AS s1,
               sum(CASE WHEN ch = 2 THEN b ELSE 0 END) AS s2
        FROM bytes GROUP BY doc_id
    ), q AS (
        SELECT doc_id, 0 AS qi, s0/2048.0 AS l0, s1/2048.0 AS l1, 0.0 AS lno,
               0.5 AS cx, 0.5 AS cy, 0.25 AS bw, 0.25 AS bh FROM sums
        UNION ALL
        SELECT doc_id, 1, s2/4096.0, s0/4096.0, 1.0, 0.25, 0.75, 0.5, 0.25 FROM sums
        UNION ALL
        SELECT doc_id, 2, 0.0, 0.0, 3.0, 0.5, 0.5, 1.0, 1.0 FROM sums
    ), scored AS (
        SELECT doc_id, qi,
               CASE WHEN l0 >= l1 THEN 0 ELSE 1 END AS label,
               exp(CASE WHEN l0 >= l1 THEN l0 ELSE l1 END)
                 / (exp(l0) + exp(l1) + exp(lno)) AS score,
               cx, cy, bw, bh
        FROM q
    ), kept AS (
        SELECT * FROM scored WHERE score > 0.25
    )
    SELECT doc_id AS image_id,
           CAST(row_number() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, qi ASC) - 1 AS INT) AS det_id,
           label,
           round(score, 6) AS score,
           round((cx - bw / 2) * 8, 6) AS x0,
           round((cy - bh / 2) * 8, 6) AS y0,
           round((cx + bw / 2) * 8, 6) AS x1,
           round((cy + bh / 2) * 8, 6) AS y1
    FROM kept
    """,
)


# ---------------------------------------------------------------------------
# Flagship extraction pipeline — driver-visible correctness values: the
# per-turn html_match discipline (reference
# scripts/benchmark_docling_python.py:149-160, canonical-JSON equality
# per image) aggregated to exact expected counts.  Turn count is pinned
# (independent of sf_dir) so the oracle expectation is a constant.
# ---------------------------------------------------------------------------

_SUMMARY_TURNS = 5_000


def q_extraction_summary(spark, sf_dir):
    """Generate transcripts -> extract every turn -> verify per-turn HTML
    tokens against the reference fixture pool -> exact verdict counts.
    All turns must extract ok AND hash-match their fixture; the driver
    value-checks the counts (5000/5000/5000/0)."""
    from pyspark.sql import functions as F

    from .operators.extract import extract_transcripts, verify_against_pool
    from .sources.transcripts import generate_transcripts, payload_pool_df

    transcripts = generate_transcripts(spark, n_turns=_SUMMARY_TURNS, seed=42)
    verified = verify_against_pool(
        extract_transcripts(transcripts), payload_pool_df(spark)
    )
    return verified.agg(
        F.count("*").cast("long").alias("turns"),
        F.sum(F.when(F.col("ok"), 1).otherwise(0)).cast("long").alias("ok_turns"),
        F.sum(F.when(F.col("html_match"), 1).otherwise(0))
        .cast("long")
        .alias("matched_turns"),
        F.sum(F.when(F.col("ok"), 0).otherwise(1)).cast("long").alias("err_turns"),
    )


_register(
    "extraction_pipeline",
    q_extraction_summary,
    f"""
    SELECT CAST({_SUMMARY_TURNS} AS BIGINT) AS turns,
           CAST({_SUMMARY_TURNS} AS BIGINT) AS ok_turns,
           CAST({_SUMMARY_TURNS} AS BIGINT) AS matched_turns,
           CAST(0 AS BIGINT) AS err_turns
    """,
)


# ---------------------------------------------------------------------------
# Composite: end-to-end training-data curation pipeline
# ---------------------------------------------------------------------------

def q_curation_pipeline(spark, sf_dir):
    """Composite curation pass over the document corpus: exact dedup
    (keep the minimum doc_id per content hash) -> quality filter
    (length + stopword-ratio band) -> language attach (marker voting)
    -> per-language corpus stats.  Every stage is the oracle-checked
    operator above, composed into one plan."""
    from pyspark.sql import functions as F

    from .functions.local import local_frame

    docs = _read(spark, sf_dir, "documents")
    keep = (
        docs.withColumn("h", F.md5("text"))
        .groupBy("h")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    deduped = docs.join(keep, "doc_id")

    words = deduped.select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), " ")).alias("word")
    )
    stop = F.when(F.col("word").isin(_STOPWORDS), 1.0).otherwise(0.0)
    quality = words.groupBy("doc_id").agg(
        F.count("*").alias("n_words"), F.avg(stop).alias("stop_ratio")
    )
    qualified = deduped.join(quality, "doc_id").where(
        (F.col("n_words") >= 10) & (F.col("stop_ratio") <= 0.5)
    )

    markers = local_frame(spark, _LANG_MARKERS, "word string, lang string")
    votes = (
        qualified.select(
            "doc_id", F.explode(F.split(F.lower(F.col("text")), " ")).alias("word")
        )
        .join(F.broadcast(markers), "word")
        .groupBy("doc_id", "lang")
        .agg(F.count("*").alias("votes"))
    )
    best = votes.groupBy("doc_id").agg(
        F.max(F.struct("votes", "lang")).alias("b")
    ).select("doc_id", F.col("b.lang").alias("pred_lang"))

    return (
        qualified.join(best, "doc_id", "left")
        .groupBy(F.coalesce("pred_lang", F.lit("und")).alias("pred_lang"))
        .agg(
            F.count("*").cast("long").alias("docs"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
            F.round(F.avg("stop_ratio"), 6).alias("avg_stop_ratio"),
        )
    )


_register(
    "curation_pipeline",
    q_curation_pipeline,
    f"""
    WITH keep AS (
        SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
    ), deduped AS (
        SELECT d.* FROM documents d JOIN keep USING (doc_id)
    ), words AS (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
        FROM deduped
    ), quality AS (
        SELECT doc_id, count(*) AS n_words,
               avg(CASE WHEN word IN ({",".join("'" + w + "'" for w in _STOPWORDS)})
                   THEN 1.0 ELSE 0.0 END) AS stop_ratio
        FROM words GROUP BY doc_id
    ), qualified AS (
        SELECT d.doc_id, d.n_chars, q.n_words, q.stop_ratio
        FROM deduped d JOIN quality q USING (doc_id)
        WHERE q.n_words >= 10 AND q.stop_ratio <= 0.5
    ), markers(word, lang) AS (VALUES {_MARKER_VALUES}),
    votes AS (
        SELECT w.doc_id, m.lang, count(*) AS votes
        FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
              FROM deduped WHERE doc_id IN (SELECT doc_id FROM qualified)) w
        JOIN markers m USING (word)
        GROUP BY w.doc_id, m.lang
    ), best AS (
        SELECT doc_id, lang AS pred_lang FROM (
            SELECT doc_id, lang, votes,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY votes DESC, lang DESC) AS rn
            FROM votes
        ) WHERE rn = 1
    )
    SELECT COALESCE(b.pred_lang, 'und') AS pred_lang,
           count(*) AS docs,
           round(avg(q.n_chars), 4) AS avg_chars,
           round(avg(q.stop_ratio), 6) AS avg_stop_ratio
    FROM qualified q LEFT JOIN best b USING (doc_id)
    GROUP BY COALESCE(b.pred_lang, 'und')
    """,
)


# ---------------------------------------------------------------------------
# Dedup GROUPS — connected components over the simhash near-dup graph
# (operators/graph.py): candidate pairs become groups with a canonical
# (minimum) id, the last step of a real dedup pipeline.  Spark runs
# hash-min label propagation (one join + one agg per iteration, lineage
# truncated per iteration); DuckDB replicates the same min-label
# closure with a recursive CTE.  Full value oracle.
# ---------------------------------------------------------------------------

def q_dedup_groups(spark, sf_dir):
    """Near-dup groups: simhash candidates at hamming <= 3 are edges;
    every document gets (group_id = component minimum, group_size).
    Isolated documents form their own singleton group."""
    from pyspark.sql import functions as F

    from .operators.dedup import simhash_candidates, simhash_column
    from .operators.graph import dedup_groups

    docs = _read(spark, sf_dir, "documents")
    cand = simhash_candidates(simhash_column(docs))
    edges = cand.where(F.col("hamming") <= 3)
    return dedup_groups(docs, edges)


_CC_ORACLE_ITERS = 25  # == operators/graph.py connected_components max_iter


def _dedup_groups_oracle_sql() -> str:
    """Unrolled hash-min label propagation (pagerank-oracle style).

    The previous form was a recursive min-label CLOSURE CTE — it
    enumerates every (node, reachable-smaller-label) pair, which is
    quadratic per component and exploded (79 GB spill) on sf1's
    ~3000-node clone components.  The unrolled propagation carries ONE
    label per node per iteration (the operator's exact algorithm), so
    each of the 25 materialized steps is a bounded join + group-by;
    25 iterations >= the operator's max_iter, past which the operator
    would have raised rather than returned."""
    steps = "".join(
        f""", lab{t} AS MATERIALIZED (
        SELECT n.id, least(n.comp, COALESCE(m.nbr, n.comp)) AS comp
        FROM lab{t - 1} n LEFT JOIN (
            SELECT e.dst AS id, min(l.comp) AS nbr
            FROM lab{t - 1} l JOIN edges e ON e.src = l.id
            GROUP BY e.dst
        ) m USING (id)
    )"""
        for t in range(1, _CC_ORACLE_ITERS + 1)
    )
    return f"""
    WITH pairs AS MATERIALIZED (
        SELECT id_a, id_b FROM ({_SIMHASH_PAIRS_SQL}) WHERE hamming <= 3
    ), edges AS MATERIALIZED (
        SELECT id_a AS src, id_b AS dst FROM pairs WHERE id_a <> id_b
        UNION
        SELECT id_b AS src, id_a AS dst FROM pairs WHERE id_a <> id_b
    ), lab0 AS MATERIALIZED (
        SELECT DISTINCT src AS id, src AS comp FROM edges
    ){steps}, labeled AS MATERIALIZED (
        SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS group_id
        FROM documents d LEFT JOIN lab{_CC_ORACLE_ITERS} c ON c.id = d.doc_id
    )
    SELECT l.doc_id, l.group_id, CAST(s.group_size AS BIGINT) AS group_size
    FROM labeled l
    JOIN (SELECT group_id, count(*) AS group_size
          FROM labeled GROUP BY group_id) s USING (group_id)
    """


_register("dedup_groups", q_dedup_groups, _dedup_groups_oracle_sql())


# ---------------------------------------------------------------------------
# Repetition-ratio quality signals (Gopher-style): duplicate-word
# fraction, top-word fraction, top-bigram fraction per document —
# filters for degenerate/templated text in a training-data pipeline.
# Word-level (the corpus is single-line); all arithmetic is exact
# count ratios rounded at 6 dp on both sides.
# ---------------------------------------------------------------------------

def q_repetition_metrics(spark, sf_dir):
    """Per-document repetition signals.  Plan: one explode + two-level
    aggregation keyed by doc_id (skew bounded by document length), the
    bigram pass a second narrow explode — no cross-document shuffle
    beyond the doc_id hash partitioning."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    docs = _read(spark, sf_dir, "documents")
    base = docs.select("doc_id", F.split("text", " ", -1).alias("w"))
    counts = (
        base.select("doc_id", F.explode("w").alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("c"))
    )
    # top word folded into the same aggregation as the totals: the
    # struct-min over (-c, word) IS the row_number((c desc, word asc))=1
    # pick, without the window sort or the join back
    per_doc = counts.groupBy("doc_id").agg(
        F.sum("c").alias("n_words"),
        F.count("*").alias("n_distinct"),
        F.max("c").alias("top_count"),
        F.min(F.struct((-F.col("c")).alias("nc"), F.col("word"))).alias("_tw"),
    )
    top_word = F.col("_tw.word").alias("top_word")
    bigrams = base.select(
        "doc_id",
        F.when(
            F.size("w") >= 2,
            F.expr(
                "transform(sequence(1, size(w) - 1), "
                "i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"
            ),
        )
        .otherwise(F.array().cast("array<string>"))
        .alias("bgs"),
    )
    bg_top = (
        bigrams.select("doc_id", F.explode("bgs").alias("bg"))
        .groupBy("doc_id", "bg")
        .agg(F.count("*").alias("bc"))
        .groupBy("doc_id")
        .agg(F.max("bc").alias("top_bg"), F.sum("bc").alias("n_bg"))
    )
    return per_doc.join(bg_top, "doc_id", "left").select(
        "doc_id",
        "n_words",
        "n_distinct",
        F.round(F.lit(1.0) - F.col("n_distinct") / F.col("n_words"), 6).alias(
            "dup_word_frac"
        ),
        top_word,
        F.round(F.col("top_count") / F.col("n_words"), 6).alias("top_word_frac"),
        F.round(
            F.coalesce(F.col("top_bg") / F.col("n_bg"), F.lit(0.0)), 6
        ).alias("top_bigram_frac"),
    )


_register(
    "repetition_metrics",
    q_repetition_metrics,
    """
    WITH w AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ), counts AS (
        SELECT doc_id, word, count(*) AS c FROM w GROUP BY doc_id, word
    ), per_doc AS (
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
               count(*) AS n_distinct, max(c) AS top_count
        FROM counts GROUP BY doc_id
    ), top AS (
        SELECT doc_id, word AS top_word FROM (
            SELECT doc_id, word,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY c DESC, word ASC) AS rn
            FROM counts
        ) WHERE rn = 1
    ), toks AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), bg AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(ws)),
                                     i -> ws[i] || ' ' || ws[i + 1])) AS bigram
        FROM toks WHERE len(ws) >= 2
    ), bgc AS (
        SELECT doc_id, bigram, count(*) AS bc FROM bg GROUP BY doc_id, bigram
    ), bg_top AS (
        SELECT doc_id, max(bc) AS top_bg, CAST(sum(bc) AS BIGINT) AS n_bg
        FROM bgc GROUP BY doc_id
    )
    SELECT p.doc_id, p.n_words, p.n_distinct,
           round(1.0 - p.n_distinct * 1.0 / p.n_words, 6) AS dup_word_frac,
           t.top_word,
           round(p.top_count * 1.0 / p.n_words, 6) AS top_word_frac,
           round(COALESCE(b.top_bg * 1.0 / b.n_bg, 0.0), 6) AS top_bigram_frac
    FROM per_doc p
    JOIN top t USING (doc_id)
    LEFT JOIN bg_top b USING (doc_id)
    """,
)


# ---------------------------------------------------------------------------
# PII scrub — regex detect + redact (emails, phone numbers).  The
# synthetic corpus carries no PII, so a deterministic specimen is
# INJECTED identically on both sides (media_feature_stub discipline:
# the machinery under test — Spark's regexp engine vs RE2 — is real,
# the input is synthesized); counts and the redacted-text digest are
# value-checked.
# ---------------------------------------------------------------------------

_PII_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PII_PHONE_RE = "\\+1-555-[0-9]{4}"


def q_pii_scrub(spark, sf_dir):
    """Detect + redact PII per document: match counts and the SHA-256
    of the redacted text.  Narrow map stage, no shuffle."""
    from pyspark.sql import functions as F

    docs = _read(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("txt"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("txt"), _PII_EMAIL_RE, "<EMAIL>"),
        _PII_PHONE_RE,
        "<PHONE>",
    )
    return aug.select(
        "doc_id",
        F.size(
            F.regexp_extract_all(F.col("txt"), F.lit(_PII_EMAIL_RE), F.lit(0))
        )
        .cast("long")
        .alias("n_emails"),
        F.size(
            F.regexp_extract_all(F.col("txt"), F.lit(_PII_PHONE_RE), F.lit(0))
        )
        .cast("long")
        .alias("n_phones"),
        F.sha2(redacted, 256).alias("redacted_sha"),
    )


_register(
    "pii_scrub",
    q_pii_scrub,
    """
    WITH aug AS (
        SELECT doc_id,
               text || ' contact user' || doc_id || '@example.com or +1-555-'
                    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS txt
        FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(txt,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT)
               AS n_emails,
           CAST(len(regexp_extract_all(txt, '\\+1-555-[0-9]{4}')) AS BIGINT)
               AS n_phones,
           sha256(regexp_replace(
               regexp_replace(txt,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                   '<EMAIL>', 'g'),
               '\\+1-555-[0-9]{4}', '<PHONE>', 'g')) AS redacted_sha
    FROM aug
    """,
)


# ---------------------------------------------------------------------------
# URL/domain extraction + rollup — extract-all, explode, aggregate by
# domain (crawl-style provenance accounting).  Deterministic URLs
# injected symmetrically, same discipline as pii_scrub.
# ---------------------------------------------------------------------------

def q_url_rollup(spark, sf_dir):
    """Per-domain URL rollup: extract every URL, project its host,
    aggregate counts + document reach.  One explode + one agg shuffle
    keyed by domain."""
    from pyspark.sql import functions as F

    docs = _read(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.lit("https://site-"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.org/p/"),
            F.col("doc_id").cast("string"),
            F.lit(" "),
            F.col("text"),
            F.lit(" http://cdn-"),
            (F.col("doc_id") % 3).cast("string"),
            F.lit(".example.net/asset"),
        ).alias("txt"),
    )
    urls = aug.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.col("txt"), F.lit("https?://[^ ]+"), F.lit(0))
        ).alias("url"),
    )
    return (
        urls.select(
            "doc_id", F.regexp_extract("url", "^https?://([^/]+)", 1).alias("domain")
        )
        .groupBy("domain")
        .agg(
            F.count("*").alias("n_urls"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
        )
    )


_register(
    "url_domain_rollup",
    q_url_rollup,
    """
    WITH aug AS (
        SELECT doc_id,
               'https://site-' || (doc_id % 7) || '.example.org/p/' || doc_id
               || ' ' || text ||
               ' http://cdn-' || (doc_id % 3) || '.example.net/asset' AS txt
        FROM documents
    ), urls AS (
        SELECT doc_id, unnest(regexp_extract_all(txt, 'https?://[^ ]+')) AS url
        FROM aug
    )
    SELECT regexp_extract(url, '^https?://([^/]+)', 1) AS domain,
           count(*) AS n_urls,
           count(DISTINCT doc_id) AS n_docs,
           min(doc_id) AS first_doc
    FROM urls
    GROUP BY 1
    """,
)


# ---------------------------------------------------------------------------
# Batched ANN top-k — k nearest for EVERY query vector in one corpus
# pass: the exact broadcast-crossJoin + window (JVM expression
# arithmetic, replicable by the oracle).
# ---------------------------------------------------------------------------

def q_ann_batch(spark, sf_dir):
    """Exact cosine top-10 per query for query vectors vec_id < 5
    against the rest of the corpus: broadcast the (tiny) query side,
    score JVM-side, rank per query under one window."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.where("vec_id < 5").select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("q"),
    )
    corpus = emb.where("vec_id >= 5").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    e, q = F.col("e"), F.col("q")
    sim = _dot(e, q) / (F.sqrt(_dot(e, e)) * F.sqrt(_dot(q, q)))
    win = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        corpus.crossJoin(F.broadcast(queries))
        .select("query_id", "vec_id", F.round(sim, 6).alias("cosine"))
        .withColumn("rn", F.row_number().over(win))
        .where("rn <= 10")
        .drop("rn")
    )


_register(
    "ann_batch_topk",
    q_ann_batch,
    """
    WITH q AS (
        SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
        FROM embeddings WHERE vec_id < 5
    ), c AS (
        SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id >= 5
    ), scored AS (
        SELECT q.query_id, c.vec_id,
               round(list_cosine_similarity(c.e, q.qe), 6) AS cosine
        FROM c CROSS JOIN q
    )
    SELECT query_id, vec_id, cosine FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, vec_id ASC) AS rn
        FROM scored
    ) WHERE rn <= 10
    """,
)


# ---------------------------------------------------------------------------
# BM25 retrieval top-k — inverted-index-style lexical scoring in one
# aggregation pass: per-doc term frequencies land as conditional sums in
# ONE groupBy (no per-term shuffle), corpus stats (N, avgdl, df) reduce
# to a scalar row, the final top-k is orderBy+limit (TakeOrdered — no
# global sort shuffle).  All constants written identically on both
# sides; ordering on the rounded score with doc_id tie-break.
# ---------------------------------------------------------------------------

_BM25_TERMS = ("table", "window", "spark")


def q_bm25_topk(spark, sf_dir):
    """BM25 top-10 docs for a fixed term query.  Plan: one explode +
    one per-doc aggregation (dl + per-term tf via conditional sums),
    one scalar stats reduction, arithmetic in the projection,
    TakeOrdered top-k."""
    import math

    from pyspark.sql import functions as F

    docs = _read(spark, sf_dir, "documents")
    words = docs.select("doc_id", F.explode(F.split("text", " ", -1)).alias("word"))
    # checkpointed: the corpus-stats reduction and the scoring projection
    # both consume the per-doc aggregate; without it each re-ran the
    # explode+groupBy
    per_doc = words.groupBy("doc_id").agg(
        F.count("*").alias("dl"),
        *[
            F.sum(F.when(F.col("word") == t, 1).otherwise(0)).alias(f"tf{i}")
            for i, t in enumerate(_BM25_TERMS)
        ],
    ).localCheckpoint(eager=False)
    stats = per_doc.agg(
        F.count("*").alias("n"),
        F.sum("dl").alias("tot"),
        *[
            F.sum(F.when(F.col(f"tf{i}") > 0, 1).otherwise(0)).alias(f"df{i}")
            for i in range(len(_BM25_TERMS))
        ],
    ).first()
    n, avgdl = stats["n"], stats["tot"] / stats["n"]
    score = F.lit(0.0)
    for i in range(len(_BM25_TERMS)):
        idf = math.log(1.0 + (n - stats[f"df{i}"] + 0.5) / (stats[f"df{i}"] + 0.5))
        tf = F.col(f"tf{i}")
        term = (
            F.lit(idf)
            * tf
            * F.lit(2.2)
            / (tf + F.lit(1.2) * (F.lit(1.0) - F.lit(0.75) + F.lit(0.75) * F.col("dl") / F.lit(avgdl)))
        )
        score = score + F.when(tf > 0, term).otherwise(F.lit(0.0))
    return (
        per_doc.select("doc_id", F.round(score, 6).alias("bm25"))
        .where(F.col("bm25") > 0)
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(10)
    )


_register(
    "bm25_topk",
    q_bm25_topk,
    """
    WITH w AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ), per_doc AS (
        SELECT doc_id, count(*) AS dl,
               sum(CASE WHEN word = 'table'  THEN 1 ELSE 0 END) AS tf0,
               sum(CASE WHEN word = 'window' THEN 1 ELSE 0 END) AS tf1,
               sum(CASE WHEN word = 'spark'  THEN 1 ELSE 0 END) AS tf2
        FROM w GROUP BY doc_id
    ), stats AS (
        SELECT count(*) AS n, sum(dl) * 1.0 / count(*) AS avgdl,
               sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
               sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
               sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
        FROM per_doc
    ), scored AS (
        SELECT doc_id,
               (CASE WHEN tf0 > 0 THEN ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5))
                     * tf0 * 2.2 / (tf0 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
                     ELSE 0.0 END)
             + (CASE WHEN tf1 > 0 THEN ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5))
                     * tf1 * 2.2 / (tf1 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
                     ELSE 0.0 END)
             + (CASE WHEN tf2 > 0 THEN ln(1.0 + (n - df2 + 0.5) / (df2 + 0.5))
                     * tf2 * 2.2 / (tf2 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
                     ELSE 0.0 END) AS score
        FROM per_doc, stats
    )
    SELECT doc_id, round(score, 6) AS bm25
    FROM scored WHERE round(score, 6) > 0
    ORDER BY round(score, 6) DESC, doc_id ASC
    LIMIT 10
    """,
)


# ---------------------------------------------------------------------------
# Deterministic mixture sampling — per-source acceptance rates applied
# via a content-hash uniform (md5(doc_id) -> u32), the standard way a
# training mixture is weighted WITHOUT an RNG stream: any executor, any
# retry, any engine reproduces the same sample (same discipline as the
# hash-derived LSH planes).  Integer threshold compare — no float
# boundary ambiguity.
# ---------------------------------------------------------------------------

def q_mixture_sample(spark, sf_dir):
    """Hash-deterministic stratified sample: source srcK keeps docs at
    rate 1 / 2^(K mod 4).  Narrow map + filter, no shuffle; the keep
    predicate is the ONE shared definition (functions/sampling.py),
    also used by jobs/curate_job.py."""
    from .functions.sampling import mixture_keep

    docs = _read(spark, sf_dir, "documents")
    return docs.where(mixture_keep("doc_id", "source")).select("doc_id", "source")


_register(
    "mixture_sample",
    q_mixture_sample,
    """
    SELECT doc_id, source
    FROM documents
    WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
          < (4294967296 >> (COALESCE(TRY_CAST(regexp_extract(source, 'src([0-9]+)', 1) AS INT), 0) % 4))
    """,
)


# ---------------------------------------------------------------------------
# Sequence packing — assign every document a (sequence, offset) slot in
# a stream of fixed-length training sequences (greedy concatenation in
# doc_id order, documents may straddle sequence boundaries).  The Spark
# side uses the SCALE plan: per-range partial token sums -> driver-side
# cumulative offsets (one tiny collect, NB rows) -> per-range window —
# never a single global window task.  The oracle is the plain global
# running sum, pinning the two-phase plan equal to the global
# semantics.
# ---------------------------------------------------------------------------

_PACK_LEN = 2048


def q_pack_sequences(spark, sf_dir):
    """(doc_id, n_tokens, start_seq, offset_in_seq, spans) under greedy
    packing into sequences of 2048 tokens, doc_id order — the ONE
    shared packer (functions/sampling.pack_sequences), also the curate
    job's packing stage."""
    from pyspark.sql import functions as F

    from .functions.sampling import pack_sequences

    docs = _read(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.size(F.split("text", " ", -1)).cast("long").alias("n_tokens")
    )
    return pack_sequences(toks, _PACK_LEN)[0]


_register(
    "pack_sequences",
    q_pack_sequences,
    f"""
    WITH t AS (
        SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents
    ), c AS (
        -- CAST: DuckDB sum(BIGINT) widens to HUGEINT, which pandas
        -- would surface as float64 and break the dtype compare
        SELECT doc_id, n_tokens,
               CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS before
        FROM t
    )
    SELECT doc_id, n_tokens,
           before // {_PACK_LEN} AS start_seq,
           before % {_PACK_LEN} AS offset_in_seq,
           (before + n_tokens - 1) // {_PACK_LEN} - before // {_PACK_LEN} + 1 AS spans
    FROM c
    """,
)

# ---------------------------------------------------------------------------
# Corpus hygiene — benchmark decontamination and duplicated-span stats
# (operators/contamination.py).  Word 8-grams generated JVM-side
# (split/transform/slice/array_join, whole-stage codegen); the eval
# set is the deterministic doc_id % 43 == 0 slice so the query needs
# no external benchmark table.
# ---------------------------------------------------------------------------

_DECON_N = 8
_DUP_MIN_DF = 4


def q_decontaminate(spark, sf_dir):
    """Training docs sharing >= 1 word 8-gram with the eval slice
    (doc_id % 43 == 0): broadcast eval grams, semi-join the exploded
    per-doc distinct gram stream, count hits per doc."""
    from pyspark.sql import functions as F

    from .operators.contamination import decontaminate

    # widened: gram hashing is the map cost; output is an exact count
    docs = _widen(_read(spark, sf_dir, "documents"))
    return decontaminate(
        docs.where(F.col("doc_id") % 43 != 0),
        docs.where(F.col("doc_id") % 43 == 0),
        n=_DECON_N,
    )


_register(
    "decontaminate",
    q_decontaminate,
    f"""
    WITH eg AS (
        SELECT DISTINCT array_to_string(ws[i:i+{_DECON_N - 1}], ' ') AS gram
        FROM (SELECT string_split(text, ' ') AS ws
              FROM documents WHERE doc_id % 43 = 0),
             LATERAL (SELECT unnest(range(1, len(ws) - {_DECON_N - 2})) AS i) t
    ), dg AS (
        SELECT DISTINCT doc_id, array_to_string(ws[i:i+{_DECON_N - 1}], ' ') AS gram
        FROM (SELECT doc_id, string_split(text, ' ') AS ws
              FROM documents WHERE doc_id % 43 <> 0),
             LATERAL (SELECT unnest(range(1, len(ws) - {_DECON_N - 2})) AS i) t
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_overlap_grams
    FROM dg JOIN eg USING (gram)
    GROUP BY doc_id
    """,
)


def q_dup_span_stats(spark, sf_dir):
    """Per-doc duplicated-span fraction: share of word-8-gram positions
    whose gram occurs in >= 4 distinct docs corpus-wide (line-dedup
    signal at gram granularity)."""
    from .operators.contamination import duplicated_span_stats

    # widened: the gram-hash map stage is the cost; counts are exact
    # integers, so partition order cannot reach a float (see _widen)
    docs = _widen(_read(spark, sf_dir, "documents"))
    return duplicated_span_stats(docs, n=_DECON_N, min_df=_DUP_MIN_DF)


_register(
    "dup_span_stats",
    q_dup_span_stats,
    f"""
    WITH pos AS (
        SELECT doc_id, array_to_string(ws[i:i+{_DECON_N - 1}], ' ') AS gram
        FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
             LATERAL (SELECT unnest(range(1, len(ws) - {_DECON_N - 2})) AS i) t
    ), hot AS (
        SELECT gram
        FROM (SELECT DISTINCT doc_id, gram FROM pos)
        GROUP BY gram
        HAVING count(*) >= {_DUP_MIN_DF}
    )
    SELECT p.doc_id,
           CAST(count(*) AS BIGINT) AS n_positions,
           CAST(count(h.gram) AS BIGINT) AS n_dup_positions,
           round(CAST(count(h.gram) AS DOUBLE) / count(*), 6) AS dup_frac
    FROM pos p LEFT JOIN hot h ON h.gram = p.gram
    GROUP BY p.doc_id
    """,
)


# ---------------------------------------------------------------------------
# Unigram LM quality score — the KenLM-style perplexity filter reduced
# to its distributable core: corpus unigram frequencies (one agg, top-
# 65536 vocab via TakeOrdered — never a global window), then a
# broadcast token->log10-prob join over the token stream with an OOV
# floor of log10(0.5/total).  avg rounded to 4 dp on both sides so
# libm-vs-JVM log ulps and summation order cannot flip the hash.
# ---------------------------------------------------------------------------

_VOCAB_CAP = 65536


def q_unigram_logprob(spark, sf_dir):
    """(doc_id, n_tokens, avg_logprob) under the corpus unigram LM."""
    from pyspark.sql import functions as F

    docs = _read(spark, sf_dir, "documents")
    # checkpointed split arrays: the count aggregation and the scoring
    # join both explode them; one narrow materialization, one split
    toks_arr = docs.select(
        "doc_id", F.split("text", " ", -1).alias("_ws")
    ).localCheckpoint(eager=False)
    tok = toks_arr.select("doc_id", F.explode("_ws").alias("token"))
    # checkpointed: the total-count scalar and the vocab TakeOrdered both
    # consume the (vocab-sized) count table — without the checkpoint each
    # re-ran the corpus explode+groupBy.  No arithmetic changes: counts
    # are exact integers and the downstream expressions are untouched.
    counts = (
        tok.groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    total = counts.agg(F.sum("cnt")).collect()[0][0]  # scalar, driver-side
    vocab = (
        counts.orderBy(F.col("cnt").desc(), F.col("token").asc())
        .limit(_VOCAB_CAP)
        .select("token", F.log10(F.col("cnt").cast("double") / total).alias("logp"))
    )
    floor = F.lit(float(__import__("math").log10(0.5 / total)))
    return (
        tok.join(F.broadcast(vocab), "token", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.round(F.avg(F.coalesce(F.col("logp"), floor)), 4).alias("avg_logprob"),
        )
    )


_register(
    "unigram_logprob",
    q_unigram_logprob,
    f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ), tot AS (
        SELECT CAST(count(*) AS DOUBLE) AS n FROM tok
    ), lp AS (
        SELECT token, log10(CAST(count(*) AS DOUBLE) / (SELECT n FROM tot)) AS logp
        FROM tok GROUP BY token
        ORDER BY count(*) DESC, token ASC
        LIMIT {_VOCAB_CAP}
    )
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           round(avg(coalesce(lp.logp, log10(0.5 / (SELECT n FROM tot)))), 4)
               AS avg_logprob
    FROM tok t LEFT JOIN lp ON lp.token = t.token
    GROUP BY t.doc_id
    """,
)

# ---------------------------------------------------------------------------
# Negative sampling for retrieval training — k deterministic negatives
# per query document via RENDEZVOUS ring buckets (r4, sf1-driven: the
# previous broadcast-cross-join computed one pair hash per (q, doc) —
# |Q| grows with the corpus, so cost was quadratic and went 23x for 10x
# data at sf1).  Scale shape now: ONE md5 per pool doc assigns it to a
# hash-ring bucket of ~2x the expected-candidate size (bucket count a
# power of two derived from |pool|, identically in both engines); each
# query deterministically probes its own bucket and the next — an
# equi-JOIN on bucket id, so the per-query candidate set is O(expected)
# and total work is linear in the corpus.  Pair hashes are computed
# only for the ~2-bucket candidates, and the per-query top-k window
# input is bounded by construction.  RNG-free: md5-derived buckets and
# ranks make the sample retry- and engine-stable (mixture_sample
# discipline).
# ---------------------------------------------------------------------------

_NEG_K = 5
_NEG_EXPECT = 64


def q_negative_sample(spark, sf_dir):
    """(q_id, neg_id, rank): 5 hash-ranked negatives per eval-slice
    query doc (doc_id % 43 == 0) drawn from that query's rendezvous
    ring neighborhood of the pool."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    docs = _read(spark, sf_dir, "documents")
    queries = docs.where(F.col("doc_id") % 43 == 0).select(
        F.col("doc_id").alias("q_id")
    )
    pool = docs.where(F.col("doc_id") % 43 != 0).select(
        F.col("doc_id").alias("neg_id")
    )
    n_pool = pool.count()
    from .functions.sampling import ring_params

    nb, shift = ring_params(n_pool, _NEG_EXPECT)

    from .functions.sampling import u32_md5

    pool_b = pool.withColumn("b", F.shiftright(u32_md5("neg_id"), shift))
    qb = queries.withColumn("b0", F.shiftright(u32_md5("q_id"), shift))
    probes = (
        qb.select("q_id", F.col("b0").alias("b"))
        .unionByName(qb.select("q_id", ((F.col("b0") + 1) % nb).alias("b")))
        .distinct()  # nb == 1 would probe bucket 0 twice
    )
    pair_u32 = u32_md5(F.concat_ws(":", F.col("q_id"), F.col("neg_id")))
    cand = F.broadcast(probes).join(pool_b, "b").withColumn("u32", pair_u32)
    win = Window.partitionBy("q_id").orderBy("u32", "neg_id")
    return (
        cand.withColumn("rank", F.row_number().over(win).cast("long"))
        .where(F.col("rank") <= _NEG_K)
        .select("q_id", "neg_id", "rank")
    )


_register(
    "negative_sample",
    q_negative_sample,
    f"""
    WITH pool AS (
        SELECT doc_id AS neg_id FROM documents WHERE doc_id % 43 <> 0
    ), q AS (
        SELECT doc_id AS q_id FROM documents WHERE doc_id % 43 = 0
    ), {ring_sql("SELECT count(*) FROM pool", _NEG_EXPECT)}, pool_b AS (
        SELECT neg_id,
               CAST(('0x' || substr(md5(CAST(neg_id AS VARCHAR)), 1, 8))::UBIGINT
                    >> shift AS BIGINT) AS b
        FROM pool, ring
    ), probes AS (
        SELECT DISTINCT q_id, b FROM (
            SELECT q_id,
                   CAST(h >> shift AS BIGINT) AS b
            FROM (SELECT q_id,
                         ('0x' || substr(md5(CAST(q_id AS VARCHAR)), 1, 8))::UBIGINT
                             AS h
                  FROM q), ring
            UNION ALL
            SELECT q_id,
                   CAST(((h >> shift) + 1) % n_buckets AS BIGINT) AS b
            FROM (SELECT q_id,
                         ('0x' || substr(md5(CAST(q_id AS VARCHAR)), 1, 8))::UBIGINT
                             AS h
                  FROM q), ring
        )
    ), cand AS (
        SELECT p.q_id, pb.neg_id,
               CAST(('0x' || substr(md5(p.q_id || ':' || pb.neg_id), 1, 8))::UBIGINT
                    AS BIGINT) AS u32
        FROM probes p JOIN pool_b pb USING (b)
    )
    SELECT q_id, neg_id,
           row_number() OVER (PARTITION BY q_id ORDER BY u32, neg_id) AS rank
    FROM cand
    QUALIFY rank <= {_NEG_K}
    """,
)


# ---------------------------------------------------------------------------
# BPE pair statistics — the inner loop of byte-pair-encoding tokenizer
# training: count adjacent symbol pairs over the corpus and take the
# most frequent merges.  At the character level the pair stream is
# n_chars rows per doc; map-side partial aggregation compresses the
# (very zipfy) stream before the one shuffle, and the top-20 is a
# TakeOrdered, not a global sort.  Deterministic tie-break (count desc,
# pair asc) keeps both engines aligned.
# ---------------------------------------------------------------------------

_BPE_TOP = 20


def q_bpe_pair_counts(spark, sf_dir):
    """Top-20 adjacent character pairs (the first BPE merge
    candidates) with exact corpus counts."""
    from pyspark.sql import functions as F

    # widened: the char-pair explode dominates; counts are exact ints
    docs = _widen(_read(spark, sf_dir, "documents"))
    # Guard: sequence(1, len-1) with len < 2 would default to step -1
    # ([1,0] / [1,0,-1]) and emit spurious pairs the oracle's
    # range(1, length) never produces (ADVICE r3) — same guard shape as
    # the gram builders.
    pairs = docs.select(
        F.explode(
            F.when(
                F.length("text") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.length("text") - 1),
                    lambda i: F.substr(F.col("text"), i, F.lit(2)),
                ),
            ).otherwise(F.expr("CAST(array() AS ARRAY<STRING>)"))
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count("*").cast("long").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("pair").asc())
        .limit(_BPE_TOP)
    )


_register(
    "bpe_pair_counts",
    q_bpe_pair_counts,
    f"""
    SELECT substr(text, i, 2) AS pair, CAST(count(*) AS BIGINT) AS cnt
    FROM documents,
         LATERAL (SELECT unnest(range(1, length(text))) AS i) t
    GROUP BY pair
    ORDER BY cnt DESC, pair ASC
    LIMIT {_BPE_TOP}
    """,
)

# ---------------------------------------------------------------------------
# Table profiling — per-column exact stats (row count, nulls, exact
# distinct, min/max), the data-quality precursor every ingestion
# pipeline runs.  One two-stage aggregation per column (partial
# map-side agg, no Expand from multi-count-distinct in one agg), tiny
# union of 1-row results; min/max cast to string for a uniform schema.
# At corpus scale exact distincts on high-cardinality columns would
# swap for HLL sketches (approx_count_distinct) — kept exact here so
# the oracle is exact.
# ---------------------------------------------------------------------------


def q_profile_table(spark, sf_dir):
    """(col_name, n, nulls, n_distinct, min_s, max_s) per documents
    column."""
    from functools import reduce

    from pyspark.sql import functions as F

    docs = _read(spark, sf_dir, "documents")
    parts = []
    for c in ["doc_id", "text", "lang", "source", "n_chars"]:
        parts.append(
            docs.agg(
                F.lit(c).alias("col_name"),
                F.count("*").cast("long").alias("n"),
                (F.count("*") - F.count(c)).cast("long").alias("nulls"),
                F.countDistinct(c).cast("long").alias("n_distinct"),
                F.min(c).cast("string").alias("min_s"),
                F.max(c).cast("string").alias("max_s"),
            )
        )
    return reduce(lambda a, b: a.unionByName(b), parts)


_register(
    "profile_table",
    q_profile_table,
    """
    SELECT 'doc_id' AS col_name, CAST(count(*) AS BIGINT) AS n,
           CAST(count(*) - count(doc_id) AS BIGINT) AS nulls,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_distinct,
           CAST(min(doc_id) AS VARCHAR) AS min_s,
           CAST(max(doc_id) AS VARCHAR) AS max_s
    FROM documents
    UNION ALL
    SELECT 'text', count(*), count(*) - count(text),
           count(DISTINCT text), min(text), max(text) FROM documents
    UNION ALL
    SELECT 'lang', count(*), count(*) - count(lang),
           count(DISTINCT lang), min(lang), max(lang) FROM documents
    UNION ALL
    SELECT 'source', count(*), count(*) - count(source),
           count(DISTINCT source), min(source), max(source) FROM documents
    UNION ALL
    SELECT 'n_chars', count(*), count(*) - count(n_chars),
           count(DISTINCT n_chars), CAST(min(n_chars) AS VARCHAR),
           CAST(max(n_chars) AS VARCHAR) FROM documents
    """,
)

# ---------------------------------------------------------------------------
# Streaming near-dup candidates (§2.11) — the stateful streaming
# operator value-checked against the SAME DuckDB oracle as the batch
# path: streaming/neardup.py is constructed so its append-stream union
# over band buckets equals the batch band-join candidate set
# exactly, so a stateful-streaming operator gets a full value oracle
# instead of the weaker rows-only check.  The query lands the sf
# documents as two parquet files, drains an availableNow stream over
# them (maxFilesPerTrigger=1 forces cross-micro-batch state), and
# returns the materialized result.
# ---------------------------------------------------------------------------


def q_stream_neardup(spark, sf_dir):
    """(id_a, id_b, hamming) simhash candidates computed by the
    streaming per-bucket state operator."""
    from .streaming.neardup import stream_neardup_candidates
    from .streaming.stream import run_to_completion

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    work = _work_dir("stream_neardup_")
    in_dir, out_dir, ckpt = f"{work}/in", f"{work}/out", f"{work}/ckpt"
    docs.where("doc_id % 2 = 0").write.parquet(f"{in_dir}/b1")
    docs.where("doc_id % 2 = 1").write.parquet(f"{in_dir}/b2")

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{in_dir}/*")
    )
    run_to_completion(stream_neardup_candidates(stream), out_dir, ckpt)
    return spark.read.parquet(out_dir)


_register("stream_neardup_pairs", q_stream_neardup, _SIMHASH_PAIRS_SQL)

# ---------------------------------------------------------------------------
# As-of join — the classic custom operator Spark lacks natively: for
# each probe event (errors), the most recent reference event (clicks)
# of the same user at-or-before its timestamp.  Scale shape: tag both
# streams, union, ONE window per user ordered by (ts, tag, id) with
# last(..., ignorenulls) carrying the reference forward — a single
# shuffle on user_id and a bounded per-user sort, never a per-probe
# subquery or a range self-join.  The oracle is DuckDB's NATIVE
# ``ASOF LEFT JOIN`` — an independent implementation of the same
# semantics, not a re-expression of the window trick.  Lag is exact
# integer microseconds (timestampdiff / date_diff on the NTZ
# timestamps) so no float, truncation, or timezone interpretation can
# enter the hash.
# ---------------------------------------------------------------------------


def q_asof_join(spark, sf_dir):
    """(event_id, user_id, asof_event_id, asof_value, lag_us): each
    error event joined as-of to the latest same-user click."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    events = _read(spark, sf_dir, "events")
    probes = events.where(F.col("event_type") == "error").select(
        "user_id",
        "ts",
        F.lit(1).alias("is_probe"),
        "event_id",
        F.lit(None).cast("bigint").alias("ref_event_id"),
        F.lit(None).cast("double").alias("ref_value"),
    )
    refs = events.where(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.lit(0).alias("is_probe"),
        "event_id",
        F.col("event_id").alias("ref_event_id"),
        F.col("value").alias("ref_value"),
    )
    win = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_probe", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tagged = probes.unionByName(refs).select(
        "*",
        F.last("ref_event_id", ignorenulls=True).over(win).alias("asof_event_id"),
        F.last("ref_value", ignorenulls=True).over(win).alias("asof_value"),
        F.last(F.when(F.col("is_probe") == 0, F.col("ts")), ignorenulls=True)
        .over(win)
        .alias("asof_ts"),
    )
    # lag via timestampdiff, not epoch arithmetic: ts is TIMESTAMP_NTZ,
    # so no timezone interpretation may enter the value
    return tagged.where(F.col("is_probe") == 1).select(
        "event_id",
        "user_id",
        "asof_event_id",
        "asof_value",
        F.expr("timestampdiff(MICROSECOND, asof_ts, ts)").alias("lag_us"),
    )


_register(
    "asof_join",
    q_asof_join,
    """
    -- tie assumption: with duplicate (user_id, ts) click rows DuckDB's
    -- ASOF JOIN picks an arbitrary one while the Spark window picks the
    -- max event_id deterministically; the events fixtures have zero
    -- duplicate (user_id, ts) clicks at every sf (verified), same class
    -- of symmetric-input guard as the simhash ASCII-whitespace note
    SELECT p.event_id, p.user_id,
           r.event_id AS asof_event_id,
           r.value AS asof_value,
           date_diff('microseconds', r.ts, p.ts) AS lag_us
    FROM (SELECT * FROM events WHERE event_type = 'error') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') r
      ON p.user_id = r.user_id AND r.ts <= p.ts
    """,
)

# ---------------------------------------------------------------------------
# Multi-level aggregation surface — ROLLUP (hierarchical subtotals +
# grand total in ONE shuffle via Expand, not three unioned scans),
# PIVOT (wide conditional aggregation with a pinned value list so the
# schema is static — never the collect-distinct pivot), and JSON
# scalar extraction (get_json_object stays in codegen; no UDF).
# ---------------------------------------------------------------------------


def q_rollup_revenue(spark, sf_dir):
    """Revenue by (mktsegment, orderstatus) with ROLLUP subtotals and
    grand total; NULL grouping keys mark the subtotal levels exactly as
    in ANSI SQL."""
    from pyspark.sql import functions as F

    orders = _read(spark, sf_dir, "orders")
    cust = _read(spark, sf_dir, "customer")
    joined = orders.join(
        F.broadcast(cust.select("c_custkey", "c_mktsegment")),
        orders["o_custkey"] == cust["c_custkey"],
    )
    return (
        joined.rollup("c_mktsegment", "o_orderstatus")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            # exact integer cents (same discipline as hypertable_rollup):
            # a 2-dp rounded float sum over 150k doubles is summation-
            # order-dependent and can straddle a cent boundary
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias(
                "_cents"
            ),
        )
        .select(
            "c_mktsegment",
            "o_orderstatus",
            "n_orders",
            (F.col("_cents") / 100.0).alias("revenue"),
        )
    )


_register(
    "rollup_revenue",
    q_rollup_revenue,
    """
    SELECT c_mktsegment, o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
               / 100.0 AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY ROLLUP (c_mktsegment, o_orderstatus)
    """,
)


def q_pivot_status(spark, sf_dir):
    """Order counts per market segment pivoted wide over the (pinned)
    status domain F/O/P."""
    from pyspark.sql import functions as F

    orders = _read(spark, sf_dir, "orders")
    cust = _read(spark, sf_dir, "customer")
    joined = orders.join(
        F.broadcast(cust.select("c_custkey", "c_mktsegment")),
        orders["o_custkey"] == cust["c_custkey"],
    )
    wide = (
        joined.groupBy("c_mktsegment")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )
    return wide.select(
        "c_mktsegment",
        *[
            F.coalesce(F.col(s), F.lit(0)).cast("long").alias(f"cnt_{s.lower()}")
            for s in ("F", "O", "P")
        ],
    )


_register(
    "pivot_status_by_segment",
    q_pivot_status,
    """
    SELECT c_mktsegment,
           CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS cnt_f,
           CAST(count(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS cnt_o,
           CAST(count(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS cnt_p
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)


def q_json_extract(spark, sf_dir):
    """JSON scalar extraction over events.props ({"k": N}): per
    event_type count + exact integer sum of the extracted field."""
    from pyspark.sql import functions as F

    events = _read(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return events.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum(k).alias("k_sum"),
    )


_register(
    "json_extract_rollup",
    q_json_extract,
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
               AS k_sum
    FROM events
    GROUP BY event_type
    """,
)

# ---------------------------------------------------------------------------
# Relational set operations — INTERSECT / EXCEPT at the table level
# (the per-row array set algebra SO1-SO5 is covered by
# set_union_adjacent/adjacent_set_overlap; this is the distributed
# counterpart: both sides reduce to distinct key sets in one partial
# agg, then a single equi-shuffle resolves membership).
# ---------------------------------------------------------------------------


def q_set_ops_nations(spark, sf_dir):
    """Nation keys partitioned by customer/supplier presence: one row
    per nation with its membership class (both / customers_only /
    suppliers_only), built from INTERSECT and EXCEPT."""
    from pyspark.sql import functions as F

    cust = _read(spark, sf_dir, "customer").select(
        F.col("c_nationkey").cast("long").alias("nationkey")
    )
    supp = _read(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").cast("long").alias("nationkey")
    )
    both = cust.intersect(supp).withColumn("membership", F.lit("both"))
    c_only = cust.subtract(supp).withColumn("membership", F.lit("customers_only"))
    s_only = supp.subtract(cust).withColumn("membership", F.lit("suppliers_only"))
    return both.unionByName(c_only).unionByName(s_only)


_register(
    "set_ops_nations",
    q_set_ops_nations,
    """
    SELECT nationkey, 'both' AS membership FROM (
        SELECT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer
        INTERSECT
        SELECT CAST(s_nationkey AS BIGINT) FROM supplier
    )
    UNION ALL
    SELECT nationkey, 'customers_only' FROM (
        SELECT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer
        EXCEPT
        SELECT CAST(s_nationkey AS BIGINT) FROM supplier
    )
    UNION ALL
    SELECT nationkey, 'suppliers_only' FROM (
        SELECT CAST(s_nationkey AS BIGINT) AS nationkey FROM supplier
        EXCEPT
        SELECT CAST(c_nationkey AS BIGINT) FROM customer
    )
    """,
)

# ---------------------------------------------------------------------------
# Hypertable rollup — time-bucketed downsampling (the continuous-
# aggregate / time_bucket pattern): events collapse into per-hour
# per-type buckets in ONE partial-aggregated shuffle keyed on
# (bucket, type).  At corpus scale this is the materialized rollup an
# Iceberg table would partition by day and cluster by type; the query
# shape is identical.
# ---------------------------------------------------------------------------


def q_hypertable_rollup(spark, sf_dir):
    """(bucket_hour, event_type, n_events, sum_value, avg_value) —
    hourly downsample of the events hypertable."""
    from pyspark.sql import functions as F

    events = _read(spark, sf_dir, "events")
    return (
        events.groupBy(
            # string bucket key: pandas surfaces Spark timestamps as
            # ns and DuckDB's as us, so a raw timestamp column can
            # never dtype-match in the driver compare
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:00:00")
            .alias("bucket_hour"),
            "event_type",
        )
        .agg(
            F.count("*").cast("long").alias("n_events"),
            # exact integer cents: value is a 2-dp measure, so the
            # bucket sum is an integer — no float summation order, no
            # rounding-boundary ties (one bucket at sf0.1 landed
            # within 1e-12 of a 4-dp boundary with naive avg())
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("_cents"),
        )
        .select(
            "bucket_hour",
            "event_type",
            "n_events",
            (F.col("_cents") / 100.0).alias("sum_value"),
            # UNROUNDED on purpose: the operands are exact integers, so
            # both engines execute the identical IEEE divisions and the
            # doubles match bit-for-bit — while round(x, 4) does NOT
            # match across engines here, because cents/100/n lands
            # exactly on 4-dp tie points (e.g. 65.99125) and Spark
            # (BigDecimal HALF_UP on the shortest repr) and DuckDB
            # (binary) break ties differently
            (F.col("_cents") / 100.0 / F.col("n_events")).alias("avg_value"),
        )
    )


_register(
    "hypertable_rollup",
    q_hypertable_rollup,
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS bucket_hour,
           event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) / 100.0
               AS sum_value,
           -- unrounded: exact-integer operands -> bit-identical IEEE
           -- division in both engines (round(,4) would tie-break
           -- differently on the exact 4-dp tie points this grid hits)
           CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                 / 100.0 / count(*) AS avg_value
    FROM events
    GROUP BY 1, 2
    """,
)

# ---------------------------------------------------------------------------
# Statistical aggregates — Pearson correlation, sample covariance and
# stddev per group (single-pass co-moment aggregation in both engines;
# both inputs are exact machine numbers, results rounded to 6 dp to
# absorb accumulation-order ulps).
# ---------------------------------------------------------------------------


def q_stats_by_type(spark, sf_dir):
    """(event_type, n, corr_vi, covar_vi, stddev_v): value vs event_id
    co-statistics per event type."""
    from pyspark.sql import functions as F

    events = _read(spark, sf_dir, "events")
    i = F.col("event_id").cast("double")
    return events.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.corr("value", i), 6).alias("corr_vi"),
        F.round(F.covar_samp("value", i), 6).alias("covar_vi"),
        F.round(F.stddev_samp("value"), 6).alias("stddev_v"),
    )


_register(
    "stats_by_type",
    q_stats_by_type,
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(corr(value, CAST(event_id AS DOUBLE)), 6) AS corr_vi,
           round(covar_samp(value, CAST(event_id AS DOUBLE)), 6) AS covar_vi,
           round(stddev_samp(value), 6) AS stddev_v
    FROM events
    GROUP BY event_type
    """,
)

# ---------------------------------------------------------------------------
# Native session windows — Spark's session_window operator (dynamic-
# gap event-time sessions, the same operator a streaming query would
# use) vs an independent oracle that re-derives sessions from first
# principles (lag + gap-break cumulative sum).  Windows are half-open:
# an event exactly gap after its predecessor starts a NEW session, so
# the oracle's merge condition is strict <.  Timestamps are emitted as
# microsecond strings (engine pandas dtypes for raw timestamps differ:
# ns vs us).
# ---------------------------------------------------------------------------

_SESSION_GAP = "10 minutes"
_TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss.SSSSSS"
_TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S.%f"


def q_session_window(spark, sf_dir):
    """(user_id, session_start, session_end, n_events) via the native
    session_window aggregation, 10-minute gap."""
    from pyspark.sql import functions as F

    events = _read(spark, sf_dir, "events")
    return (
        events.groupBy(
            "user_id", F.session_window("ts", _SESSION_GAP).alias("sw")
        )
        .agg(F.count("*").cast("long").alias("n_events"))
        .select(
            "user_id",
            F.date_format("sw.start", _TS_FMT_SPARK).alias("session_start"),
            F.date_format("sw.end", _TS_FMT_SPARK).alias("session_end"),
            "n_events",
        )
    )


#: shared by the batch session_window query AND the streamed==batch
#: stream_sessionize oracle (one truth for the session semantics)
_SESSION_ORACLE = f"""
    WITH o AS (
        SELECT user_id, ts,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         < INTERVAL 10 MINUTE
                    THEN 0 ELSE 1 END AS brk
        FROM events
    ), s AS (
        SELECT user_id, ts,
               sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
        FROM o
    )
    SELECT user_id,
           strftime(min(ts), '{_TS_FMT_DUCK}') AS session_start,
           strftime(max(ts) + INTERVAL 10 MINUTE, '{_TS_FMT_DUCK}')
               AS session_end,
           CAST(count(*) AS BIGINT) AS n_events
    FROM s
    GROUP BY user_id, sid
    """

_register("session_window_counts", q_session_window, _SESSION_ORACLE)

# ---------------------------------------------------------------------------
# HLL sketch with an in-query verdict — approx_count_distinct is the
# 100-TB path for profile_table's exact distincts; its estimate is not
# replicable in DuckDB (different sketch), so the oracle checks the
# exact count and a VERDICT the query itself asserts: the estimate
# must land within the configured relative error (rsd=0.02 -> HLL
# guarantees ~2% standard deviation; 10% is a conservative pass bar).
# Same oracle pattern as ivf_ann_topk's recall verdict.
# ---------------------------------------------------------------------------


def q_approx_distinct(spark, sf_dir):
    """(col_name, exact_distinct, within_tolerance) for the documents
    join keys; the HLL estimate itself stays out of the hash, its
    ACCURACY is what gets value-checked."""
    from functools import reduce

    from pyspark.sql import functions as F

    docs = _read(spark, sf_dir, "documents")
    parts = []
    for c in ["doc_id", "text", "lang", "source"]:
        parts.append(
            docs.agg(
                F.lit(c).alias("col_name"),
                F.countDistinct(c).cast("long").alias("exact_distinct"),
                (
                    F.abs(
                        F.approx_count_distinct(c, rsd=0.02)
                        - F.countDistinct(c)
                    )
                    <= F.greatest(
                        F.round(F.countDistinct(c) * 0.10, 0).cast("long"),
                        F.lit(1),
                    )
                ).alias("within_tolerance"),
            )
        )
    return reduce(lambda a, b: a.unionByName(b), parts)


_register(
    "approx_distinct_verdict",
    q_approx_distinct,
    """
    SELECT 'doc_id' AS col_name,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS exact_distinct,
           TRUE AS within_tolerance
    FROM documents
    UNION ALL
    SELECT 'text', count(DISTINCT text), TRUE FROM documents
    UNION ALL
    SELECT 'lang', count(DISTINCT lang), TRUE FROM documents
    UNION ALL
    SELECT 'source', count(DISTINCT source), TRUE FROM documents
    """,
)

# ---------------------------------------------------------------------------
# PageRank over the near-dup graph — a second iterative DataFrame
# algorithm beside connected components: 5 synchronous damped updates
# from a uniform start (fixed iteration count, so the result is a pure
# function of the input and the unrolled-CTE oracle reproduces it
# exactly; ranks rounded to 10 dp — values are O(1/N), accumulation
# noise O(1e-17)).
# ---------------------------------------------------------------------------

_PR_ITER = 5
_PR_DAMP = 0.85


def q_pagerank(spark, sf_dir):
    """(id, rank) after 5 PageRank iterations on the hamming<=3
    simhash candidate graph."""
    from pyspark.sql import functions as F

    from .operators.dedup import simhash_candidates, simhash_column
    from .operators.graph import pagerank

    docs = _read(spark, sf_dir, "documents")
    cand = simhash_candidates(simhash_column(docs))
    edges = cand.where(F.col("hamming") <= 3)
    return pagerank(
        edges, src="id_a", dst="id_b", iterations=_PR_ITER, damping=_PR_DAMP
    ).select("id", F.round("r", 10).alias("rank"))


def _pagerank_oracle_sql() -> str:
    iters = "".join(
        f""", pr{k} AS MATERIALIZED (
        SELECT e.d AS id,
               (1 - {_PR_DAMP}) / (SELECT cnt FROM n)
               + {_PR_DAMP} * sum(p.r / dg.deg) AS r
        FROM pr{k - 1} p
        JOIN edges e ON e.s = p.id
        JOIN deg dg ON dg.s = p.id
        GROUP BY e.d
    )"""
        for k in range(1, _PR_ITER + 1)
    )
    return f"""
    WITH pairs AS MATERIALIZED (
        SELECT id_a, id_b FROM ({_SIMHASH_PAIRS_SQL}) WHERE hamming <= 3
    ), edges AS MATERIALIZED (
        SELECT id_a AS s, id_b AS d FROM pairs
        UNION
        SELECT id_b AS s, id_a AS d FROM pairs
    ), deg AS MATERIALIZED (
        SELECT s, count(*) AS deg FROM edges GROUP BY s
    ), n AS MATERIALIZED (
        SELECT count(DISTINCT s) AS cnt FROM edges
    ), pr0 AS MATERIALIZED (
        SELECT DISTINCT s AS id, 1.0 / (SELECT cnt FROM n) AS r FROM edges
    ){iters}
    SELECT id, round(r, 10) AS rank FROM pr{_PR_ITER}
    """


_register("pagerank_neardup", q_pagerank, _pagerank_oracle_sql())


# ---------------------------------------------------------------------------
# Iterative BPE merges — the actual tokenizer-training loop (r3 verdict
# task 4): k rounds of count-pairs -> merge-argmax -> recount over the
# corpus (operators/bpe.py), per-round lineage truncation like the
# pagerank/label-propagation loops.  The DuckDB oracle reconstructs the
# greedy non-overlapping merge INDEPENDENTLY with window functions
# (consecutive-match runs -> odd ranks), unrolled for the fixed round
# count — two implementations of the same semantics, value-equal.
# Symmetric ASCII guard (media_feature_stub pattern): ordering and
# per-char indexing agree across engines on ASCII; non-ASCII docs are
# excluded on BOTH sides.
# ---------------------------------------------------------------------------

_BPE_MERGE_ROUNDS = 5


def q_bpe_merges(spark, sf_dir):
    """(merge_round, lft, rgt, merged, cnt): the first 5 trained BPE
    merges over a deterministic 25% corpus shard, exact counts.

    The shard (doc_id % 4 = 0, mirrored in the oracle) is the standard
    tokenizer-training practice — BPE statistics converge on a sample
    and never need the full corpus — and keeps the k-pass loop's bench
    cost proportionate (each round re-scans the shard)."""
    from pyspark.sql import functions as F

    from .functions.local import local_frame
    from .operators.bpe import bpe_merge_rounds, char_tokens

    # byte-proportional widening: the per-round split+explode passes
    # re-scan the stream every merge round, so the A/B-optimal task
    # count grows with input bytes — one partition per ~128 KB of file
    # bytes, capped at session parallelism (sf0.1 A/B: plain 2.34s /
    # 4 parts 1.67s / 32 parts 2.86s; sf1: 32 parts 3.6s vs plain
    # 19.3s; corpus-scale scans already exceed parallelism -> no-op)
    docs = _widen(_read(spark, sf_dir, "documents"), bytes_per_part=128 << 10).where(
        "doc_id % 4 = 0"
    )
    ascii_docs = docs.where(
        F.length("text") == F.octet_length("text")
    ).select("doc_id", "text")
    merges, _ = bpe_merge_rounds(
        char_tokens(ascii_docs).select("doc_id", "toks"),
        rounds=_BPE_MERGE_ROUNDS,
    )
    return local_frame(
        spark,
        [(m["merge_round"], m["lft"], m["rgt"], m["merged"], m["cnt"]) for m in merges],
        "merge_round long, lft string, rgt string, merged string, cnt long",
    )


def _bpe_merges_oracle_sql() -> str:
    rounds = []
    prev = "s0"
    for r in range(1, _BPE_MERGE_ROUNDS + 1):
        rounds.append(f""", p{r} AS MATERIALIZED (
        SELECT doc_id, CAST(i AS BIGINT) AS i, toks[i] AS lft, toks[i + 1] AS rgt
        FROM {prev}, UNNEST(range(1, len(toks))) t(i)
    ), m{r} AS MATERIALIZED (
        SELECT lft, rgt, CAST(count(*) AS BIGINT) AS cnt
        FROM p{r} GROUP BY lft, rgt
        ORDER BY cnt DESC, lft ASC, rgt ASC
        LIMIT 1
    ), sel{r} AS MATERIALIZED (
        -- greedy non-overlap == odd rank within each maximal run of
        -- consecutive match positions
        SELECT doc_id, i FROM (
            SELECT doc_id, i,
                   row_number() OVER (PARTITION BY doc_id, grp ORDER BY i) AS rnk
            FROM (
                SELECT p.doc_id, p.i,
                       p.i - row_number() OVER (PARTITION BY p.doc_id
                                                ORDER BY p.i) AS grp
                FROM p{r} p JOIN m{r} m ON p.lft = m.lft AND p.rgt = m.rgt
            )
        ) WHERE rnk % 2 = 1
    ), s{r} AS MATERIALIZED (
        -- rebuild: selected position -> merged token, successor of a
        -- selected position -> dropped, everything else unchanged
        SELECT t.doc_id,
               list(CASE WHEN s.i IS NOT NULL
                         THEN (SELECT lft || rgt FROM m{r})
                         ELSE t.tok END ORDER BY t.j) AS toks
        FROM (SELECT doc_id, CAST(j AS BIGINT) AS j, toks[j] AS tok
              FROM {prev}, UNNEST(range(1, len(toks) + 1)) tt(j)) t
        LEFT JOIN sel{r} s ON s.doc_id = t.doc_id AND s.i = t.j
        LEFT JOIN sel{r} x ON x.doc_id = t.doc_id AND x.i = t.j - 1
        WHERE x.i IS NULL
        GROUP BY t.doc_id
    )""")
        prev = f"s{r}"
    union = " UNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS merge_round, lft, rgt, "
        f"lft || rgt AS merged, cnt FROM m{r}"
        for r in range(1, _BPE_MERGE_ROUNDS + 1)
    )
    return f"""
    WITH s0 AS MATERIALIZED (
        SELECT doc_id,
               list_transform(range(1, length(text) + 1), ci -> text[ci]) AS toks
        FROM documents
        WHERE doc_id % 4 = 0
          AND length(text) = octet_length(encode(text))
    ){"".join(rounds)}
    SELECT * FROM ({union}) ORDER BY merge_round
    """


_register("bpe_merges", q_bpe_merges, _bpe_merges_oracle_sql())


# ---------------------------------------------------------------------------
# Tokenizer APPLY (r4 verdict item 4): encode documents with a trained
# merge table in ONE shuffle-free Arrow pass (operators/bpe.bpe_encode).
# The table here is a LITERAL 6-merge prefix (pinned, not retrained per
# run — applying is the operation under test, and a literal table keeps
# the sweep cost at one corpus pass) with a cascading chain
# t+h -> th+e -> the+' ' that exercises merged-token reuse across
# rounds.  The DuckDB oracle replays the same in-training-order greedy
# passes with the bpe_merges window-function machinery, unrolled per
# literal pair; train->encode consistency is pinned separately by the
# differential test (encode(training corpus) == trainer final stream).
# Probe shard doc_id % 4 = 1 is disjoint from the trainer query's
# % 4 = 0 shard, so the apply path is exercised on unseen documents.
# ---------------------------------------------------------------------------

_BPE_ENCODE_TABLE = [
    ("t", "h"),
    ("th", "e"),
    ("the", " "),
    ("e", " "),
    ("a", "t"),
    ("r", "t"),
]


def q_bpe_encode(spark, sf_dir):
    """(doc_id, n_tokens, toks_md5): the literal merge table applied to
    the ASCII % 4 = 1 document shard; the md5 is over the token stream
    joined with \\x1f, so any token boundary drift mismatches."""
    from pyspark.sql import functions as F

    from .operators.bpe import bpe_encode

    docs = _read(spark, sf_dir, "documents").where("doc_id % 4 = 1")
    ascii_docs = docs.where(
        F.length("text") == F.octet_length("text")
    ).select("doc_id", "text")
    enc = bpe_encode(ascii_docs, _BPE_ENCODE_TABLE)
    return enc.select(
        "doc_id",
        F.size("tokens").cast("long").alias("n_tokens"),
        F.md5(F.concat_ws("\x1f", F.col("tokens"))).alias("toks_md5"),
    )


def _bpe_encode_oracle_sql() -> str:
    def esc(s: str) -> str:
        return s.replace("'", "''")

    rounds = []
    prev = "s0"
    for r, (lft, rgt) in enumerate(_BPE_ENCODE_TABLE, start=1):
        rounds.append(f""", p{r} AS MATERIALIZED (
        SELECT doc_id, CAST(i AS BIGINT) AS i, toks[i] AS lft, toks[i + 1] AS rgt
        FROM {prev}, UNNEST(range(1, len(toks))) t(i)
    ), sel{r} AS MATERIALIZED (
        -- greedy non-overlap == odd rank within each maximal run of
        -- consecutive match positions (same construction as bpe_merges)
        SELECT doc_id, i FROM (
            SELECT doc_id, i,
                   row_number() OVER (PARTITION BY doc_id, grp ORDER BY i) AS rnk
            FROM (
                SELECT p.doc_id, p.i,
                       p.i - row_number() OVER (PARTITION BY p.doc_id
                                                ORDER BY p.i) AS grp
                FROM p{r} p
                WHERE p.lft = '{esc(lft)}' AND p.rgt = '{esc(rgt)}'
            )
        ) WHERE rnk % 2 = 1
    ), s{r} AS MATERIALIZED (
        SELECT t.doc_id,
               list(CASE WHEN s.i IS NOT NULL
                         THEN '{esc(lft + rgt)}'
                         ELSE t.tok END ORDER BY t.j) AS toks
        FROM (SELECT doc_id, CAST(j AS BIGINT) AS j, toks[j] AS tok
              FROM {prev}, UNNEST(range(1, len(toks) + 1)) tt(j)) t
        LEFT JOIN sel{r} s ON s.doc_id = t.doc_id AND s.i = t.j
        LEFT JOIN sel{r} x ON x.doc_id = t.doc_id AND x.i = t.j - 1
        WHERE x.i IS NULL
        GROUP BY t.doc_id
    )""")
        prev = f"s{r}"
    k = len(_BPE_ENCODE_TABLE)
    return f"""
    WITH s0 AS MATERIALIZED (
        SELECT doc_id,
               list_transform(range(1, length(text) + 1), ci -> text[ci]) AS toks
        FROM documents
        WHERE doc_id % 4 = 1
          AND length(text) = octet_length(encode(text))
    ){"".join(rounds)}
    -- zero-length docs fall out of the unnest chain: rejoin the shard
    -- so every input doc carries an output row (md5('') for empty)
    SELECT b.doc_id,
           CAST(coalesce(len(s.toks), 0) AS BIGINT) AS n_tokens,
           md5(coalesce(array_to_string(s.toks, chr(31)), '')) AS toks_md5
    FROM (SELECT doc_id FROM s0) b
    LEFT JOIN s{k} s USING (doc_id)
    """


_register("bpe_encode", q_bpe_encode, _bpe_encode_oracle_sql())


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup-style, r3 verdict task 5) — asserted-in-query
# oracle, same form as ivf_ann_topk: the k-means quantizer is iterative
# (DuckDB can't replicate it), so the query emits exact engine-
# independent values (input size) plus invariants computed GENUINELY
# in-plan: the output partitions the input, every kept pair within a
# cluster is below the threshold (re-scored INDEPENDENTLY from the
# checkpointed cluster table, not derived from the drop set), every drop
# has a smaller-id witness, and the pass is non-vacuous (some rows
# actually dropped at every sf tier — verified 0.001/0.01/0.1).
# ---------------------------------------------------------------------------

_SEMDEDUP_TAU = 0.25


def q_semantic_dedup(spark, sf_dir):
    """One verdict row for the SemDeDup pass over embeddings:
    (method, n_input, partition_ok, kept_pairs_ok, witness_ok,
    some_dropped)."""
    from pyspark.sql import functions as F

    from .operators.similarity import (
        normalize_column,
        round6_half_away,
        semantic_dedup,
    )

    emb = _read(spark, sf_dir, "embeddings")
    # cluster count scales with the corpus (the SemDeDup recipe: more
    # clusters, smaller quadratic blocks) — ~256 rows/cluster target,
    # floor 8; the verdict oracle is cluster-count-independent
    n_lists = max(8, emb.count() // 256)
    res = semantic_dedup(
        emb, threshold=_SEMDEDUP_TAU, n_lists=n_lists, seed=7
    ).localCheckpoint(eager=False)

    stats = res.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("id").alias("n_ids"),
        F.sum(F.when(F.col("kept"), 0).otherwise(1)).alias("n_dropped"),
    )

    # independent re-check: join ALL rows back to their RAW vectors,
    # re-normalize, and re-score within-cluster pairs from scratch;
    # checkpointed: both the scoring pass and the stats leg consume it
    allv = (
        normalize_column(
            res.join(emb, res["id"] == emb["vec_id"]).select(
                "id", "cluster", "kept", "capped", "embedding"
            ),
            out_col="nv",
        )
        .select("id", "cluster", "kept", "capped", "nv")
        .localCheckpoint(eager=False)
    )
    # mirror the operator's max_cluster_rows guard (r4 advice low #2):
    # capped clusters are excluded from pair scoring by design, so the
    # verifier must not re-score them — their rows stay kept and carry
    # no witness obligation (dropped rows only exist in uncapped
    # clusters, so the witness leg is already cap-consistent).
    # Both re-checks are within-cluster computations, so they run as
    # ONE per-cluster vectorized pass (same blocked-matmul scoring and
    # 6-dp rounding as the operator — identical per-pair arithmetic, so
    # a threshold-boundary pair cannot flip between the two passes):
    # - n_viol: kept pairs (a.id < b.id, both kept) scoring above tau;
    # - n_witnessed: dropped rows with a smaller-id same-cluster
    #   neighbor above tau (the operator's exact drop rule — the
    #   witness itself may be kept or dropped).
    tau = _SEMDEDUP_TAU

    def _verify_cluster(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values("id", kind="mergesort").reset_index(drop=True)
        mat = np.stack(pdf["nv"].to_numpy())
        kept = pdf["kept"].to_numpy(dtype=bool)
        n = len(pdf)
        cols = np.arange(n)
        n_viol = 0
        n_wit = 0
        for s in range(0, n, 256):
            e = min(s + 256, n)
            scores = round6_half_away(mat[s:e] @ mat.T)
            valid = cols[None, :] < np.arange(s, e)[:, None]
            above = (scores > tau) & valid
            blk_kept = kept[s:e]
            n_viol += int((above & kept[None, :])[blk_kept].sum())
            n_wit += int((above.any(axis=1) & ~blk_kept).sum())
        return pd.DataFrame({"n_viol": [n_viol], "n_witnessed": [n_wit]})

    checks = (
        allv.where("NOT capped")
        .select("id", "cluster", "kept", "nv")
        .groupBy("cluster")
        .applyInPandas(_verify_cluster, schema="n_viol long, n_witnessed long")
        .agg(
            F.coalesce(F.sum("n_viol"), F.lit(0)).alias("n_viol"),
            F.coalesce(F.sum("n_witnessed"), F.lit(0)).alias("n_witnessed"),
        )
    )
    n_input = emb.agg(F.count("*").alias("n_input"))
    return (
        n_input.crossJoin(stats)
        .crossJoin(checks)
        .select(
            F.lit("semdedup").alias("method"),
            F.col("n_input").cast("long").alias("n_input"),
            ((F.col("n_rows") == F.col("n_input")) & (F.col("n_ids") == F.col("n_input"))).alias("partition_ok"),
            (F.col("n_viol") == 0).alias("kept_pairs_ok"),
            (F.col("n_witnessed") == F.col("n_dropped")).alias("witness_ok"),
            (F.col("n_dropped") > 0).alias("some_dropped"),
        )
    )


_register(
    "semantic_dedup",
    q_semantic_dedup,
    """
    SELECT 'semdedup' AS method,
           (SELECT CAST(count(*) AS BIGINT) FROM embeddings) AS n_input,
           TRUE AS partition_ok,
           TRUE AS kept_pairs_ok,
           TRUE AS witness_ok,
           TRUE AS some_dropped
    """,
)


# ---------------------------------------------------------------------------
# Cross-shard exact dedup via a bloom prefilter (r3 verdict task 6) —
# a hash-derived (md5-position) bloom filter built over the even-id
# corpus slice, probed by the odd-id slice plus a planted duplicate set
# (every 10th even doc re-labeled), then verified against the exact
# semi-join: exact values (probe size, true duplicate count) are
# DuckDB-replicated, the bloom guarantees (zero false negatives,
# false-positive rate within 5x the theoretical ~0.8% for k=7, b=10)
# are asserted in-plan.
# ---------------------------------------------------------------------------

_BLOOM_FPR_BOUND = 0.05


def q_bloom_dedup(spark, sf_dir):
    """One verdict row: (method, n_probe, true_dups,
    no_false_negatives, fpr_ok) for the bloom cross-shard prefilter."""
    from pyspark.sql import functions as F

    from .operators.dedup import bloom_prefilter

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    build = docs.where("doc_id % 2 = 0")
    probe = docs.where("doc_id % 2 = 1").unionByName(
        build.where("doc_id % 10 = 0").select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
    )
    flagged = bloom_prefilter(build, probe, key_col="text")
    truth = build.select("text").distinct().withColumn("_dup", F.lit(True))
    joined = flagged.join(truth, "text", "left").select(
        "doc_id",
        "maybe_dup",
        F.coalesce(F.col("_dup"), F.lit(False)).alias("is_dup"),
    )
    return joined.agg(
        F.lit("bloom").alias("method"),
        F.count("*").cast("long").alias("n_probe"),
        F.sum(F.when(F.col("is_dup"), 1).otherwise(0)).cast("long").alias("true_dups"),
        (F.sum(F.when(F.col("is_dup") & ~F.col("maybe_dup"), 1).otherwise(0)) == 0).alias(
            "no_false_negatives"
        ),
        (
            F.sum(F.when(~F.col("is_dup") & F.col("maybe_dup"), 1).otherwise(0))
            <= F.greatest(
                F.lit(1.0),
                F.sum(F.when(~F.col("is_dup"), 1).otherwise(0)) * _BLOOM_FPR_BOUND,
            )
        ).alias("fpr_ok"),
    )


_register(
    "bloom_dedup",
    q_bloom_dedup,
    """
    WITH build AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0
    ), probe AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
        UNION ALL
        SELECT doc_id + 1000000, text FROM build WHERE doc_id % 10 = 0
    )
    SELECT 'bloom' AS method,
           (SELECT CAST(count(*) AS BIGINT) FROM probe) AS n_probe,
           (SELECT CAST(count(*) AS BIGINT) FROM probe
            WHERE text IN (SELECT text FROM build)) AS true_dups,
           TRUE AS no_false_negatives,
           TRUE AS fpr_ok
    """,
)

# ---------------------------------------------------------------------------
# Token-window chunking — split every document into fixed-size token
# windows with overlap (the RAG / long-context preprocessing primitive).
# Entirely JVM-side: split -> sequence(0, n-1, stride) -> posexplode ->
# slice -> md5, all whole-stage-codegen; no shuffle at all (narrow map
# + generate), so the operator scales as a pure scan at any corpus
# size.  The chunk text itself is emitted as md5 so the compared result
# stays compact at every sf tier.
# ---------------------------------------------------------------------------

_CHUNK_LEN = 64
_CHUNK_STRIDE = 48  # 16-token overlap between adjacent chunks


def q_chunk_documents(spark, sf_dir):
    """(doc_id, chunk_idx, start_tok, n_tok, chunk_md5) for 64-token
    windows every 48 tokens.  Empty-token-array inputs are guarded the
    same way as the gram builders (ADVICE r3: sequence(start > stop)
    would step -1)."""
    from pyspark.sql import functions as F

    docs = _read(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ", -1).alias("ws"))
    starts = F.when(
        F.size("ws") >= 1,
        F.sequence(F.lit(0), F.size("ws") - 1, F.lit(_CHUNK_STRIDE)),
    ).otherwise(F.array().cast("array<int>"))
    chunked = toks.select(
        "doc_id", "ws", F.posexplode(starts).alias("chunk_idx", "start_tok")
    )
    chunk = F.slice("ws", F.col("start_tok") + 1, _CHUNK_LEN)
    return chunked.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("start_tok").cast("long").alias("start_tok"),
        F.size(chunk).cast("long").alias("n_tok"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_md5"),
    )


_register(
    "chunk_documents",
    q_chunk_documents,
    f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), s AS (
        -- range() stop is exclusive: starts are every multiple of the
        -- stride <= len-1, exactly Spark's sequence(0, n-1, stride)
        SELECT doc_id, ws, unnest(range(0, len(ws), {_CHUNK_STRIDE})) AS start_tok
        FROM t
    )
    SELECT doc_id,
           CAST(start_tok // {_CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
           CAST(start_tok AS BIGINT) AS start_tok,
           CAST(len(ws[start_tok + 1 : start_tok + {_CHUNK_LEN}]) AS BIGINT) AS n_tok,
           md5(array_to_string(ws[start_tok + 1 : start_tok + {_CHUNK_LEN}], ' ')) AS chunk_md5
    FROM s
    """,
)


# ---------------------------------------------------------------------------
# Near-dup-cluster-aware train/holdout split — the leakage-safe
# evaluation split: an entire near-duplicate component lands on ONE
# side (hashing the GROUP id, not the doc id), so no holdout document
# has a near-duplicate in train.  Composes the dedup_groups component
# labels with the md5-integer split hash (functions/sampling.py
# discipline: hash-derived, RNG-free, engine-replicable).
# ---------------------------------------------------------------------------


def q_cluster_split(spark, sf_dir):
    """(doc_id, group_id, split) with split decided per GROUP:
    u32(md5(group_id)) % 10 == 0 -> 'holdout' (~10%), else 'train'."""
    from pyspark.sql import functions as F

    from .operators.dedup import simhash_candidates, simhash_column
    from .operators.graph import dedup_groups

    from .functions.sampling import holdout_split

    docs = _read(spark, sf_dir, "documents")
    cand = simhash_candidates(simhash_column(docs))
    edges = cand.where(F.col("hamming") <= 3)
    groups = dedup_groups(docs, edges)
    return groups.select(
        "doc_id", "group_id", holdout_split("group_id").alias("split")
    )


_register(
    "cluster_split",
    q_cluster_split,
    f"""
    SELECT doc_id, group_id,
           CASE WHEN ('0x' || substr(md5(CAST(group_id AS VARCHAR)), 1, 8))::UBIGINT
                     % 10 = 0
                THEN 'holdout' ELSE 'train' END AS split
    FROM ({_dedup_groups_oracle_sql()})
    """,
)


# ---------------------------------------------------------------------------
# DSIR-style importance resampling (Xie et al. 2023, "Data Selection
# for Language Models via Importance Resampling"): score every raw
# document by the log-likelihood ratio of its hashed word unigrams
# under the target slice vs the raw pool, keep the top-K.
#
# Scale shape: bucket statistics are two map-side-combined aggregations
# down to B=1024 rows each (collected driver-side — bounded by B, the
# IVF-centroid pattern); the per-bucket scores ship back as ONE array
# literal, so the scoring pass is a shuffle-free narrow map
# (transform + element_at + aggregate, whole-stage codegen) ending in
# TakeOrdered(K) — no join, no window, no shuffle at 100 TB (at fleet
# scale the literal becomes a broadcast variable; the plan is
# otherwise identical).
#
# Engine parity: bucket = u32(md5(word)) % B (md5-derived like the LSH
# planes — never RNG); per-bucket log-ratio is quantized to an INTEGER
# (round(ln * 1e6)) so the per-document weight is an exact integer sum,
# immune to float summation order.  ln() runs on exact integer-valued
# doubles in both engines (products < 2^53 here; beyond that both
# engines round the same integer to the same nearest double first).
# ---------------------------------------------------------------------------

_DSIR_BUCKETS = 1024
_DSIR_TOPK = 500


def q_dsir_resample(spark, sf_dir):
    """Top-500 raw-pool docs by hashed-unigram importance weight toward
    the deterministic target slice (doc_id % 43 == 0, the eval-slice
    convention shared with decontaminate)."""
    import json
    import math

    from pyspark.sql import functions as F

    B = _DSIR_BUCKETS
    docs = _read(spark, sf_dir, "documents")

    from .functions.sampling import u32_md5

    def bucket(col):
        return u32_md5(col) % B

    words = F.explode(F.split("text", " ", -1)).alias("w")
    # NULL-text guard, mirrored in the oracle: a NULL text explodes to
    # zero rows in DuckDB's unnest (vanishing from its GROUP BY) but
    # would still emit a NULL-weight row from the Spark select below —
    # filter identically on both sides so the row sets cannot diverge
    docs = docs.where(F.col("text").isNotNull())
    src = docs.where(F.col("doc_id") % 43 != 0)

    # both slices' bucket histograms in ONE corpus pass (slice-tagged
    # aggregation, still <= 2*B collected rows); the previous per-slice
    # collects scanned the corpus twice
    rows = (
        docs.select((F.col("doc_id") % 43 == 0).alias("t"), words)
        .groupBy("t", bucket(F.col("w")).alias("b"))
        .agg(F.count("*").alias("c"))
        .collect()
    )
    tc = {int(r["b"]): int(r["c"]) for r in rows if r["t"]}
    sc = {int(r["b"]): int(r["c"]) for r in rows if not r["t"]}
    t_tot, s_tot = sum(tc.values()), sum(sc.values())

    # DuckDB round() is half-away-from-zero; Python round() is
    # banker's — functions/sampling.half_away mirrors DuckDB exactly
    # (tie probability ~0, but the tie-break must still be symmetric
    # by construction)
    from .functions.sampling import half_away as _half_away

    scores = [
        _half_away(
            (
                math.log((tc.get(b, 0) + 1) * (s_tot + B))
                - math.log((sc.get(b, 0) + 1) * (t_tot + B))
            )
            * 1_000_000
        )
        for b in range(B)
    ]
    # one JSON string literal that Spark folds into the array literal
    # (one py4j call instead of one per score; operators/classifier.py)
    score_arr = F.from_json(F.lit(json.dumps(scores)), "array<bigint>")
    weight = F.aggregate(
        F.transform(
            F.split("text", " ", -1),
            lambda w: F.element_at(score_arr, (bucket(w) + 1).cast("int")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        src.select("doc_id", weight.alias("weight"))
        .orderBy(F.col("weight").desc(), "doc_id")
        .limit(_DSIR_TOPK)
    )


_register(
    "dsir_resample",
    q_dsir_resample,
    f"""
    WITH tw AS (
        SELECT unnest(string_split(text, ' ')) AS w
        FROM documents WHERE doc_id % 43 = 0 AND text IS NOT NULL
    ), sw AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w
        FROM documents WHERE doc_id % 43 <> 0 AND text IS NOT NULL
    ), tb AS (
        SELECT ('0x' || substr(md5(w), 1, 8))::UBIGINT % {_DSIR_BUCKETS} AS b,
               count(*) AS c
        FROM tw GROUP BY 1
    ), sb AS (
        SELECT ('0x' || substr(md5(w), 1, 8))::UBIGINT % {_DSIR_BUCKETS} AS b,
               count(*) AS c
        FROM sw GROUP BY 1
    ), tot AS (
        SELECT (SELECT count(*) FROM tw) AS t_tot,
               (SELECT count(*) FROM sw) AS s_tot
    ), score AS (
        SELECT r.b,
               CAST(round((ln((COALESCE(tb.c, 0) + 1) * (s_tot + {_DSIR_BUCKETS}))
                         - ln((COALESCE(sb.c, 0) + 1) * (t_tot + {_DSIR_BUCKETS})))
                         * 1000000) AS BIGINT) AS sc
        FROM (SELECT unnest(range(0, {_DSIR_BUCKETS})) AS b) r
        LEFT JOIN tb ON tb.b = r.b
        LEFT JOIN sb ON sb.b = r.b
        CROSS JOIN tot
    )
    SELECT doc_id, CAST(sum(sc) AS BIGINT) AS weight
    FROM sw
    JOIN score ON score.b = ('0x' || substr(md5(sw.w), 1, 8))::UBIGINT % {_DSIR_BUCKETS}
    GROUP BY doc_id
    ORDER BY weight DESC, doc_id
    LIMIT {_DSIR_TOPK}
    """,
)

# ---------------------------------------------------------------------------
# CCNet-style perplexity bucketing (Wenzek et al. 2020): split every
# language's documents into head / middle / tail terciles by LM score.
#
# Scale shape: CCNet assigns by comparing each doc's score to
# per-language THRESHOLDS, never by globally ranking the corpus — so
# there is NO per-lang window over the data.  The thresholds come from
# a (lang, rounded-score) histogram: distinct 4-dp scores are bounded
# by construction (~60k values spanning the logprob range), so the
# histogram is a bounded driver-side collect (the IVF-centroid /
# pack-offsets pattern), and assignment is a broadcast join + CASE in
# codegen.  All compared values are INTEGERS (score scaled 1e4), so no
# float ordering or interpolated-percentile ulp can flip a bucket.
#
# Tercile rule (discrete, tie-inclusive): v1 = score value at DESC
# position ceil(n/3), v2 = at ceil(2n/3); head: s >= v1, middle:
# v2 <= s < v1, tail: s < v2.  The oracle derives the same values via
# a rank window — an independent construction of the same definition.
# ---------------------------------------------------------------------------


def q_ccnet_buckets(spark, sf_dir):
    """(doc_id, lang, s_int, bucket) — per-lang head/middle/tail by the
    corpus unigram LM score (s_int = round(avg_logprob * 1e4))."""
    import math
    from collections import defaultdict

    from pyspark.sql import functions as F

    from .functions.local import local_frame

    docs = _read(spark, sf_dir, "documents").select("doc_id", "lang")
    unigram = q_unigram_logprob(spark, sf_dir)
    scored = (
        unigram.join(docs, "doc_id")
        .withColumn("s_int", F.round(F.col("avg_logprob") * 10000).cast("long"))
        .select("doc_id", "lang", "s_int")
        .localCheckpoint(eager=False)
    )
    hist = scored.groupBy("lang", "s_int").count().collect()
    by_lang = defaultdict(list)
    for r in hist:
        by_lang[r["lang"]].append((int(r["s_int"]), int(r["count"])))
    rows = []
    for lang, vc in by_lang.items():
        vc.sort(reverse=True)
        n = sum(c for _, c in vc)

        def value_at(pos, vc=vc):
            acc = 0
            for v, c in vc:
                acc += c
                if acc >= pos:
                    return v
            return vc[-1][0]

        rows.append((lang, value_at(math.ceil(n / 3)), value_at(math.ceil(2 * n / 3))))
    th = F.broadcast(local_frame(spark, rows, "lang string, v1 long, v2 long"))
    return scored.join(th, "lang").select(
        "doc_id",
        "lang",
        "s_int",
        F.when(F.col("s_int") >= F.col("v1"), F.lit("head"))
        .when(F.col("s_int") >= F.col("v2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


_register(
    "ccnet_buckets",
    q_ccnet_buckets,
    f"""
    WITH scored AS (
        SELECT doc_id, CAST(round(avg_logprob * 10000) AS BIGINT) AS s_int
        FROM ({ORACLES["unigram_logprob"]})
    ), sl AS (
        SELECT s.doc_id, d.lang, s.s_int
        FROM scored s JOIN documents d USING (doc_id)
    ), ranked AS (
        SELECT lang, s_int,
               row_number() OVER (PARTITION BY lang ORDER BY s_int DESC) AS r,
               count(*) OVER (PARTITION BY lang) AS n
        FROM sl
    ), th AS (
        -- value at DESC positions ceil(n/3), ceil(2n/3): tie order
        -- within equal s_int is arbitrary but the VALUE at a position
        -- is multiset-determined, identical to the histogram walk
        SELECT lang,
               max(CASE WHEN r = CAST(ceil(n / 3.0) AS BIGINT) THEN s_int END) AS v1,
               max(CASE WHEN r = CAST(ceil(2 * n / 3.0) AS BIGINT) THEN s_int END) AS v2
        FROM ranked GROUP BY lang
    )
    SELECT sl.doc_id, sl.lang, sl.s_int,
           CASE WHEN sl.s_int >= th.v1 THEN 'head'
                WHEN sl.s_int >= th.v2 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM sl JOIN th USING (lang)
    """,
)


# ---------------------------------------------------------------------------
# Deterministic global corpus shuffle — the pre-training data-order
# primitive: every document gets a (shard, pos) slot in a pseudo-random
# but fully deterministic, retry-stable permutation (md5-derived like
# every sampler here — never RNG).  Scale shape: hash-sharding is a
# narrow map; position assignment is a row_number window PER SHARD, so
# partition size is n / n_shards — the shard count is the explicit
# parallelism knob (at 100 TB raise shards until a shard fits a task;
# no global sort, no single-partition window anywhere).
# ---------------------------------------------------------------------------

_SHUFFLE_SHARDS = 64


def q_global_shuffle(spark, sf_dir):
    """(doc_id, shard, pos): shard = u32(md5(doc_id)) % 64, pos = dense
    position within the shard ordered by (hash, doc_id)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from .functions.sampling import u32_md5

    docs = _read(spark, sf_dir, "documents")
    u32 = u32_md5("doc_id")
    sharded = docs.select(
        "doc_id", u32.alias("h"), (u32 % _SHUFFLE_SHARDS).alias("shard")
    )
    win = Window.partitionBy("shard").orderBy("h", "doc_id")
    return sharded.select(
        "doc_id",
        F.col("shard").cast("long").alias("shard"),
        (F.row_number().over(win) - 1).cast("long").alias("pos"),
    )


_register(
    "global_shuffle",
    q_global_shuffle,
    f"""
    WITH h AS (
        SELECT doc_id,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT AS h
        FROM documents
    )
    SELECT doc_id,
           CAST(h % {_SHUFFLE_SHARDS} AS BIGINT) AS shard,
           CAST(row_number() OVER (PARTITION BY h % {_SHUFFLE_SHARDS}
                                   ORDER BY h, doc_id) - 1 AS BIGINT) AS pos
    FROM h
    """,
)

# ---------------------------------------------------------------------------
# Streaming keep-first exact dedup (§2.11) — ingestion-time content
# dedup with a FULL value oracle: batch 1 lands the even-id docs,
# batch 2 lands the odd-id docs plus re-labeled copies of every 10th
# even doc (the bloom_dedup planted-duplicate construction), so the
# cross-micro-batch suppression path genuinely fires.  The keeper for
# a key is deterministic by construction — min doc_id within the
# earliest batch containing the key — which the oracle reproduces
# relationally.
# ---------------------------------------------------------------------------


def q_stream_exact_dedup(spark, sf_dir):
    """(text_md5, keeper_id): one keeper per distinct content key from
    the streaming state operator."""
    from pyspark.sql import functions as F

    from .streaming.exactdedup import stream_exact_dedup
    from .streaming.stream import run_to_completion

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    work = _work_dir("stream_exactdedup_")
    in_dir, out_dir, ckpt = f"{work}/in", f"{work}/out", f"{work}/ckpt"
    # ONE file per batch dir (coalesce(1)): with maxFilesPerTrigger=1
    # every part FILE is its own micro-batch, and the oracle's keeper
    # rule (min id within the earliest BATCH containing the key) is
    # only batch-atomic if batch == file — multi-part batch dirs would
    # make the keeper depend on which part file a duplicate landed in.
    b1 = docs.where("doc_id % 2 = 0")
    b1.coalesce(1).write.parquet(f"{in_dir}/b1")
    docs.where("doc_id % 2 = 1").unionByName(
        b1.where("doc_id % 10 = 0").select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
    ).coalesce(1).write.parquet(f"{in_dir}/b2")

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{in_dir}/*")
    )
    run_to_completion(stream_exact_dedup(stream), out_dir, ckpt)
    return spark.read.parquet(out_dir)


_register(
    "stream_exact_dedup",
    q_stream_exact_dedup,
    """
    WITH b1 AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0
    ), b2 AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
        UNION ALL
        SELECT doc_id + 1000000, text FROM b1 WHERE doc_id % 10 = 0
    ), per AS (
        SELECT md5(text) AS text_md5,
               min(CASE WHEN src = 1 THEN doc_id END) AS k1,
               min(CASE WHEN src = 2 THEN doc_id END) AS k2
        FROM (SELECT 1 AS src, * FROM b1 UNION ALL SELECT 2 AS src, * FROM b2)
        GROUP BY 1
    )
    SELECT text_md5, CAST(COALESCE(k1, k2) AS BIGINT) AS keeper_id FROM per
    """,
)

# ---------------------------------------------------------------------------
# Exact substring dedup (Lee et al. 2021, "Deduplicating Training Data
# Makes Language Models Better"): remove every token span covered by a
# word 8-gram that occurs more than once in the corpus (self-repetition
# included), keeping the rest of the document intact.
#
# Scale shape: gram positions are built pre-explode inside one array
# expression (xxhash64 8-byte keys — the decontaminate/dup_span_stats
# discipline), so the ONLY wide stages are the gram-count aggregation
# and the dup-position semi-join, both shuffling 8-byte hashes with
# map-side combine.  Reconstruction is shuffle-free: per-doc duplicated
# START positions collect into one bounded array (<= doc length), the
# covered set expands inside an array expression, and the kept text is
# a filter over the token array in whole-stage codegen.  Per-doc cost
# is O(len x dup_starts) — bounded by document length, which an
# upstream chunking stage bounds at corpus scale.
# ---------------------------------------------------------------------------

_SUBDUP_N = 8


def q_dedup_substrings(spark, sf_dir):
    """(doc_id, n_tokens, n_removed, kept_md5): tokens covered by any
    corpus-duplicated 8-gram removed, remainder re-joined and hashed.
    The stripping itself is the shared operator
    (operators/contamination.py:strip_duplicated_substrings, also the
    curate job's --strip-dup-substrings stage)."""
    from pyspark.sql import functions as F

    from .operators.contamination import strip_duplicated_substrings

    docs = _read(spark, sf_dir, "documents")
    return strip_duplicated_substrings(docs, n=_SUBDUP_N).select(
        "doc_id",
        F.col("n_tokens_pre").alias("n_tokens"),
        F.col("n_sub_removed").alias("n_removed"),
        F.md5("text").alias("kept_md5"),
    )


_register(
    "dedup_substrings",
    q_dedup_substrings,
    f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), g AS (
        SELECT doc_id, i AS pos,
               array_to_string(ws[i : i + {_SUBDUP_N - 1}], ' ') AS gram
        FROM t, LATERAL (SELECT unnest(range(1, len(ws) - {_SUBDUP_N - 2})) AS i) u
    ), hot AS (
        SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2
    ), dup AS (
        SELECT g.doc_id, g.pos FROM g JOIN hot USING (gram)
    ), cov AS (
        SELECT DISTINCT doc_id, pos + d AS cp
        FROM dup, LATERAL (SELECT unnest(range(0, {_SUBDUP_N})) AS d) x
    ), agg AS (
        SELECT doc_id, count(*) AS n_removed, list(cp) AS cps
        FROM cov GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(t.ws) AS BIGINT) AS n_tokens,
           CAST(COALESCE(a.n_removed, 0) AS BIGINT) AS n_removed,
           -- DuckDB array_to_string([]) is NULL where Spark array_join
           -- yields '' — coalesce so fully-removed docs hash md5('')
           md5(COALESCE(array_to_string(
               list_filter(t.ws, (w, i) -> NOT list_contains(COALESCE(a.cps, []), i)),
               ' '), '')) AS kept_md5
    FROM t LEFT JOIN agg a USING (doc_id)
    """,
)

# ---------------------------------------------------------------------------
# C4/Gopher-style heuristic filter cascade (Raffel et al. 2020; Rae et
# al. 2021): the rule battery every web-corpus pipeline starts with,
# emitted per-doc so the funnel (which rule dropped what) is auditable.
# Rules adapted to this punctuation-free corpus: the classic
# terminal-punctuation check is replaced by the Gopher consecutive-
# repetition screen, which actually discriminates here.  Entirely
# whole-stage-codegen expressions — no UDF, no shuffle; the mean-word-
# length band cross-multiplies integers (9n <= 2*chars <= 13n, i.e.
# mean in [4.5, 6.5]) so no float ever reaches the hash.
# ---------------------------------------------------------------------------


def q_c4_filters(spark, sf_dir):
    """(doc_id, r_min_words, r_no_triple_repeat, r_max_word_len,
    r_no_braces, r_word_len_band, keep) — heuristic rule battery (the
    ONE shared definition: functions/rules.py, also the curate job's
    --rule-filter stage)."""
    from pyspark.sql import functions as F

    from .functions.rules import heuristic_rules, keep_all

    docs = _read(spark, sf_dir, "documents")
    rules = heuristic_rules("text")
    return docs.select(
        "doc_id",
        *[col.alias(name) for name, col in rules.items()],
        keep_all(rules).alias("keep"),
    )


_register(
    "c4_filters",
    q_c4_filters,
    """
    WITH t AS (
        SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents
    ), r AS (
        SELECT doc_id,
               len(ws) >= 20 AS r_min_words,
               len(list_filter(range(1, len(ws) - 1),
                               i -> ws[i] = ws[i + 1] AND ws[i] = ws[i + 2])) = 0
                   AS r_no_triple_repeat,
               list_max(list_transform(ws, w -> length(w))) <= 30
                   AS r_max_word_len,
               NOT contains(text, '{') AS r_no_braces,
               9 * len(ws) <= 2 * list_sum(list_transform(ws, w -> length(w)))
                   AND 2 * list_sum(list_transform(ws, w -> length(w)))
                       <= 13 * len(ws) AS r_word_len_band
        FROM t
    )
    SELECT doc_id, r_min_words, r_no_triple_repeat, r_max_word_len,
           r_no_braces, r_word_len_band,
           r_min_words AND r_no_triple_repeat AND r_max_word_len
               AND r_no_braces AND r_word_len_band AS keep
    FROM r
    """,
)

# ---------------------------------------------------------------------------
# Quality classifier (r4 verdict item 7): fastText-style hashed linear
# scorer (operators/classifier.py).  Weak labels come from the C4/
# Gopher rule battery on the doc_id % 3 != 0 train slice; the
# held-out % 3 = 0 slice is scored by the trained integer log-odds
# weights.  Feature hashing, quantization and prediction are all
# integer/md5-derived (the DSIR discipline), so the oracle re-trains
# and re-scores the identical model in SQL.
# ---------------------------------------------------------------------------

_QC_BUCKETS = 1024


def q_quality_classifier(spark, sf_dir):
    """(doc_id, n_words, q_score, pred_good) over the held-out
    doc_id % 3 = 0 slice: integer bag-of-buckets log-odds under the
    rule-labeled naive-Bayes model trained on the % 3 != 0 slice."""
    from pyspark.sql import functions as F

    from .functions.rules import heuristic_rules, keep_all
    from .operators.classifier import quality_scores, train_quality_weights

    # widened: per-word md5 bucketing dominates both passes; counts and
    # scores are exact integers (see _widen)
    docs = _widen(_read(spark, sf_dir, "documents")).where(F.col("text").isNotNull())
    train = docs.where(F.col("doc_id") % 3 != 0).withColumn(
        "label", keep_all(heuristic_rules("text"))
    )
    weights = train_quality_weights(train, n_buckets=_QC_BUCKETS)
    held_out = docs.where(F.col("doc_id") % 3 == 0)
    return quality_scores(held_out, weights).select(
        "doc_id",
        "n_words",
        "q_score",
        (F.col("q_score") > 0).alias("pred_good"),
    )


_register(
    "quality_classifier",
    q_quality_classifier,
    f"""
    WITH t AS (
        SELECT doc_id, text, string_split(text, ' ') AS ws
        FROM documents WHERE text IS NOT NULL
    ), lab AS (
        -- the rule battery (c4_filters oracle) as one keep boolean
        SELECT doc_id, ws,
               (len(ws) >= 20
                AND len(list_filter(range(1, len(ws) - 1),
                                    i -> ws[i] = ws[i + 1] AND ws[i] = ws[i + 2])) = 0
                AND list_max(list_transform(ws, w -> length(w))) <= 30
                AND NOT contains(text, '{{')
                AND 9 * len(ws) <= 2 * list_sum(list_transform(ws, w -> length(w)))
                AND 2 * list_sum(list_transform(ws, w -> length(w))) <= 13 * len(ws)
               ) AS lbl
        FROM t WHERE doc_id % 3 <> 0
    ), cnt AS (
        SELECT lbl,
               ('0x' || substr(md5(w), 1, 8))::UBIGINT % {_QC_BUCKETS} AS b,
               count(*) AS c
        FROM (SELECT lbl, unnest(ws) AS w FROM lab)
        GROUP BY lbl, b
    ), tot AS (
        SELECT coalesce(sum(CASE WHEN lbl THEN c END), 0) AS g_tot,
               coalesce(sum(CASE WHEN NOT lbl THEN c END), 0) AS b_tot
        FROM cnt
    ), wt AS (
        SELECT r.b,
               CAST(round((ln((coalesce(g.c, 0) + 1) * (b_tot + {_QC_BUCKETS}))
                         - ln((coalesce(bb.c, 0) + 1) * (g_tot + {_QC_BUCKETS})))
                         * 1000000) AS BIGINT) AS w
        FROM (SELECT unnest(range({_QC_BUCKETS})) AS b) r
        LEFT JOIN (SELECT b, c FROM cnt WHERE lbl) g USING (b)
        LEFT JOIN (SELECT b, c FROM cnt WHERE NOT lbl) bb USING (b)
        CROSS JOIN tot
    ), sw AS (
        SELECT doc_id,
               ('0x' || substr(md5(w), 1, 8))::UBIGINT % {_QC_BUCKETS} AS b
        FROM (SELECT doc_id, unnest(ws) AS w FROM t WHERE doc_id % 3 = 0)
    )
    SELECT sw.doc_id,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(wt.w) AS BIGINT) AS q_score,
           sum(wt.w) > 0 AS pred_good
    FROM sw JOIN wt USING (b)
    GROUP BY sw.doc_id
    """,
)


# ---------------------------------------------------------------------------
# SCD2 dimension build — the classic warehouse type-2 slowly-changing
# dimension derived from an event stream: consecutive runs of the same
# tracked attribute collapse into validity intervals (valid_from,
# valid_to, is_current).  Scale shape: both windows partition by
# user_id (bounded by per-user event counts — the sessionize shuffle
# key), the run-collapse is an aggregation, and all emitted times are
# exact integer epoch-microseconds so no timestamp dtype or timezone
# subtlety can reach the hash (valid_to = -1 marks the open/current
# version instead of a NULL that would float-ify the pandas column).
# ---------------------------------------------------------------------------


def q_scd2_dimension(spark, sf_dir):
    """(user_id, version, event_type, valid_from_us, valid_to_us,
    is_current): type-2 dimension of each user's event_type runs."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    # NULL attribute guard, mirrored in the oracle (dsir convention):
    # a NULL event_type would merge into the prior run on the chg CASE
    # yet split its version row in the groupBy, creating duplicate
    # (user, version) rows whose lead() tie-order differs across engines
    ev = _read(spark, sf_dir, "events").where(F.col("event_type").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("event_type").over(w)
    changed = F.when(prev.isNull() | (prev != F.col("event_type")), 1).otherwise(0)
    ver = ev.withColumn("chg", changed).withColumn(
        "version", F.sum("chg").over(w).cast("long")
    )
    # ts is TIMESTAMP_NTZ: cast through timestamp (session tz pinned
    # UTC) exactly like sessionize's micros idiom
    dim = ver.groupBy("user_id", "version", "event_type").agg(
        F.min(F.unix_micros(F.col("ts").cast("timestamp"))).alias("valid_from_us")
    )
    w2 = Window.partitionBy("user_id").orderBy("version")
    nxt = F.lead("valid_from_us").over(w2)
    return dim.select(
        "user_id",
        "version",
        "event_type",
        "valid_from_us",
        F.coalesce(nxt, F.lit(-1)).cast("long").alias("valid_to_us"),
        nxt.isNull().alias("is_current"),
    )


_register(
    "scd2_dimension",
    q_scd2_dimension,
    """
    WITH runs AS (
        SELECT user_id, event_type, ts, event_id,
               CASE WHEN lag(event_type) OVER w IS NULL
                         OR lag(event_type) OVER w <> event_type
                    THEN 1 ELSE 0 END AS chg
        FROM events
        WHERE event_type IS NOT NULL
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), ver AS (
        SELECT user_id, event_type, ts,
               CAST(sum(chg) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS BIGINT) AS version
        FROM runs
    ), dim AS (
        SELECT user_id, version, event_type,
               CAST(min(epoch_us(ts)) AS BIGINT) AS valid_from_us
        FROM ver GROUP BY user_id, version, event_type
    )
    SELECT user_id, version, event_type, valid_from_us,
           CAST(COALESCE(lead(valid_from_us) OVER w2, -1) AS BIGINT)
               AS valid_to_us,
           lead(valid_from_us) OVER w2 IS NULL AS is_current
    FROM dim
    WINDOW w2 AS (PARTITION BY user_id ORDER BY version)
    """,
)

# ---------------------------------------------------------------------------
# Contrastive triplet mining — turn the dedup structure into training
# data: for every document with a near-duplicate, emit (anchor,
# positive, negative) where the positive is its closest simhash
# neighbor (min hamming, min id tie-break) and the negative is drawn
# from the anchor's rendezvous ring bucket (the negative_sample
# construction — one md5 per corpus doc, equi-join on bucket, bounded
# per-anchor candidates, md5-ranked pick).  Everything is hash-derived
# and engine-replicable; the join on the ring bucket is a plain equi-
# join (AQE broadcasts if the anchor side is small — at corpus scale
# both sides shuffle on the bucket key, each bucket bounded ~2x the
# candidate budget).
# ---------------------------------------------------------------------------


def q_contrastive_triplets(spark, sf_dir):
    """(anchor_id, pos_id, neg_id): one triplet per document that has a
    simhash near-dup at hamming <= 3."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from .operators.dedup import simhash_candidates, simhash_column

    docs = _read(spark, sf_dir, "documents")
    cand = simhash_candidates(simhash_column(docs))
    edges = cand.where(F.col("hamming") <= 3)
    # both orientations from ONE scan of the candidate joins (a two-
    # branch union re-executes the band joins per branch), and the
    # per-anchor argmin as a map-side-combined struct-min aggregation
    # instead of a row_number window (same (hamming, pos_id) ordering,
    # no sort)
    sym = edges.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("id_a").alias("anchor_id"), F.col("id_b").alias("pos_id")
                ),
                F.struct(
                    F.col("id_b").alias("anchor_id"), F.col("id_a").alias("pos_id")
                ),
            )
        ).alias("e"),
        "hamming",
    )
    pos = (
        sym.groupBy(F.col("e.anchor_id").alias("anchor_id"))
        .agg(F.min(F.struct("hamming", F.col("e.pos_id").alias("pos_id"))).alias("s"))
        .select("anchor_id", F.col("s.pos_id").alias("pos_id"))
    )

    from .functions.sampling import ring_params

    n_docs = docs.count()
    nb, shift = ring_params(n_docs, _NEG_EXPECT)

    from .functions.sampling import u32_md5

    pool_b = docs.select(F.col("doc_id").alias("neg_id")).withColumn(
        "b", F.shiftright(u32_md5("neg_id"), shift)
    )
    # the two probe buckets explode from one pos row (b0 and b0+1 mod
    # nb are always distinct, so the union+distinct shuffle bought
    # nothing)
    b0 = F.shiftright(u32_md5("anchor_id"), shift)
    probes = pos.select(
        "anchor_id",
        "pos_id",
        F.explode(F.array(b0, (b0 + 1) % nb)).alias("b"),
    )
    pair_u32 = u32_md5(F.concat_ws(":", F.col("anchor_id"), F.col("neg_id")))
    cand2 = (
        probes.join(pool_b, "b")
        .where(
            (F.col("neg_id") != F.col("anchor_id"))
            & (F.col("neg_id") != F.col("pos_id"))
        )
        .withColumn("u32", pair_u32)
    )
    # per-anchor argmin by (u32, neg_id): struct-min aggregation ==
    # the previous row_number window ordering (pos_id is functionally
    # dependent on anchor_id, so grouping by both is grouping by anchor)
    return (
        cand2.groupBy("anchor_id", "pos_id")
        .agg(F.min(F.struct("u32", "neg_id")).alias("s"))
        .select("anchor_id", "pos_id", F.col("s.neg_id").alias("neg_id"))
    )


_register(
    "contrastive_triplets",
    q_contrastive_triplets,
    f"""
    WITH pairs AS MATERIALIZED (
        SELECT id_a, id_b, hamming FROM ({_SIMHASH_PAIRS_SQL})
        WHERE hamming <= 3
    ), sym AS (
        SELECT id_a AS anchor_id, id_b AS pos_id, hamming FROM pairs
        UNION ALL
        SELECT id_b AS anchor_id, id_a AS pos_id, hamming FROM pairs
    ), pos AS (
        SELECT anchor_id, pos_id FROM (
            SELECT *, row_number() OVER (PARTITION BY anchor_id
                                         ORDER BY hamming, pos_id) AS rn
            FROM sym
        ) WHERE rn = 1
    ), {ring_sql("SELECT count(*) FROM documents", _NEG_EXPECT)}, pool_b AS (
        SELECT doc_id AS neg_id,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
                    >> shift AS BIGINT) AS b
        FROM documents, ring
    ), ah AS (
        SELECT anchor_id, pos_id,
               ('0x' || substr(md5(CAST(anchor_id AS VARCHAR)), 1, 8))::UBIGINT AS h
        FROM pos
    ), probes AS (
        SELECT DISTINCT anchor_id, pos_id, b FROM (
            SELECT anchor_id, pos_id, CAST(h >> shift AS BIGINT) AS b
            FROM ah, ring
            UNION ALL
            SELECT anchor_id, pos_id,
                   CAST(((h >> shift) + 1) % n_buckets AS BIGINT) AS b
            FROM ah, ring
        )
    ), cand AS (
        SELECT p.anchor_id, p.pos_id, pb.neg_id,
               CAST(('0x' || substr(md5(p.anchor_id || ':' || pb.neg_id), 1, 8))::UBIGINT
                    AS BIGINT) AS u32
        FROM probes p JOIN pool_b pb USING (b)
        WHERE pb.neg_id <> p.anchor_id AND pb.neg_id <> p.pos_id
    )
    SELECT anchor_id, pos_id, neg_id FROM (
        SELECT *, row_number() OVER (PARTITION BY anchor_id
                                     ORDER BY u32, neg_id) AS rn
        FROM cand
    ) WHERE rn = 1
    """,
)

# ---------------------------------------------------------------------------
# TF-IDF keyword extraction — top-k characteristic terms per document.
# Scale shape: one explode feeds two cascaded aggregations (per-doc
# term counts, then document frequency OVER the already-distinct
# doc-term pairs — no second distinct), the idf join is vocab-sized
# (AQE broadcasts when small), and the per-doc top-k window is bounded
# by per-document vocabulary.  Scores are integers (tf x
# round(ln(N/df) * 1e6)) so ordering and the hash are float-free; the
# ln runs on the identical double N/df in both engines.
# ---------------------------------------------------------------------------

_TFIDF_K = 3


def q_tfidf_keywords(spark, sf_dir):
    """(doc_id, term, rank, score_int): top-3 TF-IDF terms per doc,
    ties broken by term ascending."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    docs = _read(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    n_docs = docs.count()
    words = docs.select(
        "doc_id", F.explode(F.split("text", " ", -1)).alias("term")
    )
    # checkpointed: the doc-frequency aggregation and the scored join
    # both consume the per-doc term counts; without it each re-ran the
    # corpus explode+groupBy
    tf = (
        words.groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
        .localCheckpoint(eager=False)
    )
    df_tbl = tf.groupBy("term").agg(F.count("*").alias("df"))
    idf_int = F.round(
        F.log(F.lit(float(n_docs)) / F.col("df")) * 1_000_000
    ).cast("long")
    scored = tf.join(df_tbl, "term").select(
        "doc_id", "term", (F.col("tf") * idf_int).alias("score_int")
    )

    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_int").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= _TFIDF_K)
        .select("doc_id", "term", "rank", "score_int")
    )


_register(
    "tfidf_keywords",
    q_tfidf_keywords,
    f"""
    WITH d AS (
        SELECT doc_id, text FROM documents WHERE text IS NOT NULL
    ), w AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM d
    ), tf AS (
        SELECT doc_id, term, count(*) AS tf FROM w GROUP BY doc_id, term
    ), dfq AS (
        SELECT term, count(*) AS df FROM tf GROUP BY term
    ), n AS (
        SELECT CAST(count(*) AS DOUBLE) AS n FROM d
    ), s AS (
        SELECT tf.doc_id, tf.term,
               CAST(tf.tf * CAST(round(ln((SELECT n FROM n) / dfq.df)
                                       * 1000000) AS BIGINT)
                    AS BIGINT) AS score_int
        FROM tf JOIN dfq USING (term)
    )
    SELECT doc_id, term, CAST(rank AS BIGINT) AS rank, score_int FROM (
        SELECT *, row_number() OVER (PARTITION BY doc_id
                                     ORDER BY score_int DESC, term) AS rank
        FROM s
    ) WHERE rank <= {_TFIDF_K}
    """,
)

# ---------------------------------------------------------------------------
# JSONL sink + source round-trip — line-delimited JSON is the exchange
# format LLM data pipelines actually ingest and publish; this proves
# the engine's JSONL bridge is lossless (the oracle reads the ORIGINAL
# parquet, so any writer/reader mangling — escaping, type coercion,
# column drift — fails the value hash via md5(text)).  Scale notes:
# the read pins an explicit schema (never schema inference, which
# costs a full extra pass at corpus scale), and uncompressed/zstd
# JSONL stays line-splittable — gzip would serialize each file to one
# task; real pipelines convert to parquet at ingest and keep JSONL at
# the edges, which is exactly this operator's role.
# ---------------------------------------------------------------------------


def q_jsonl_roundtrip(spark, sf_dir):
    """(doc_id, lang, source, n_chars, text_md5) read back from a JSONL
    copy of the documents table."""
    from pyspark.sql import functions as F

    docs = _read(spark, sf_dir, "documents")
    work = _work_dir("jsonl_rt_")
    docs.coalesce(4).write.mode("overwrite").json(f"{work}/docs")
    out = spark.read.schema(
        "doc_id long, text string, lang string, source string, n_chars long"
    ).json(f"{work}/docs")
    return out.select(
        "doc_id", "lang", "source", "n_chars", F.md5("text").alias("text_md5")
    )


_register(
    "jsonl_roundtrip",
    q_jsonl_roundtrip,
    """
    SELECT doc_id, lang, source, n_chars, md5(text) AS text_md5
    FROM documents
    """,
)

# ---------------------------------------------------------------------------
# Per-source quota sampling — the "cap any one domain" stage every
# web-corpus recipe runs (C4 caps pages per URL prefix, RefinedWeb and
# FineWeb cap per registered domain) so no single crawl host dominates
# the training mixture.  Keep-at-most-N per source, deterministically:
# docs ranked by the corpus-wide md5-u32 (functions/sampling.u32_md5 —
# the one hash every sampler here derives from), smallest first.
#
# Scale shape: a naive row_number() over (PARTITION BY source) sends
# every row of a hot domain to ONE task — at 100 TB a mega-domain with
# 10^9 pages is a straggler/OOM. Two-phase instead: phase 1 ranks
# within (source, salt-bucket) — 8-way (sampling._QUOTA_SALTS) parallel
# even for a single domain — and keeps ≤N per bucket; phase 2
# re-ranks the ≤N×S survivors per source (bounded by construction, so
# the second window is over a tiny frame). A row in a source's true global top-N has at
# most N-1 bucket-mates ahead of it, so it always survives phase 1,
# and all its global predecessors survive with it — phase-2 rank
# therefore EQUALS the single-window global rank, which is what the
# one-window DuckDB oracle checks.
# ---------------------------------------------------------------------------

_QUOTA_N = 10


def q_source_quota_sample(spark, sf_dir):
    """(doc_id, source, quota_rank): the ≤N docs kept per source and
    each one's deterministic rank within its source's quota.  ONE
    shared implementation (functions/sampling.quota_rank_per_group),
    also the curate job's --source-quota stage."""
    from pyspark.sql import functions as F

    from .functions.sampling import quota_rank_per_group

    docs = (
        _read(spark, sf_dir, "documents")
        .where(F.col("source").isNotNull())
        .select("doc_id", "source")
    )
    return quota_rank_per_group(docs, "source", n=_QUOTA_N).select(
        "doc_id", "source", "quota_rank"
    )


_register(
    "source_quota_sample",
    q_source_quota_sample,
    f"""
    WITH h AS (
        SELECT doc_id, source,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT AS h
        FROM documents WHERE source IS NOT NULL
    )
    SELECT doc_id, source, CAST(quota_rank AS BIGINT) AS quota_rank FROM (
        SELECT doc_id, source,
               row_number() OVER (PARTITION BY source ORDER BY h, doc_id)
                   AS quota_rank
        FROM h
    ) WHERE quota_rank <= {_QUOTA_N}
    """,
)

# ---------------------------------------------------------------------------
# Temperature language rebalance — the multilingual-corpus companion
# to the per-source quota: XLM-R / mT5 alpha-sampling (alpha = 1/2)
# flattens the language distribution so high-resource languages stop
# drowning out the tail.  Data-DEPENDENT rates (unlike mixture_sample's
# fixed per-source rule): per-lang keep rate sqrt(n_min / n_lang),
# realized as integer u32 thresholds (functions/sampling.
# sqrt_rebalance_thresholds — alpha pinned at 1/2 because IEEE
# division+sqrt are correctly rounded, so Python/Spark/DuckDB derive
# bit-identical thresholds; pow would not be).
#
# Scale shape: one map-side-combined groupBy(lang) count (result rows
# = #languages, a few hundred at worst — bounded driver collect), then
# ONE narrow filter pass with the thresholds as a literal map.  No
# join, no second shuffle, nothing proportional to corpus size leaves
# the executors.
# ---------------------------------------------------------------------------


def q_lang_temperature_sample(spark, sf_dir):
    """(doc_id, lang) surviving alpha=1/2 temperature rebalancing."""
    from itertools import chain

    from pyspark.sql import functions as F

    from .functions.sampling import sqrt_rebalance_thresholds, u32_md5

    docs = _read(spark, sf_dir, "documents").where(F.col("lang").isNotNull())
    counts = {
        r["lang"]: r["cnt"]
        for r in docs.groupBy("lang").agg(F.count("*").alias("cnt")).collect()
    }
    thr = sqrt_rebalance_thresholds(counts)
    thr_map = F.create_map(
        *chain.from_iterable((F.lit(k), F.lit(v)) for k, v in sorted(thr.items()))
    )
    return docs.where(u32_md5("doc_id") < thr_map[F.col("lang")]).select(
        "doc_id", "lang"
    )


_register(
    "lang_temperature_sample",
    q_lang_temperature_sample,
    """
    WITH c AS (
        SELECT lang, count(*) AS cnt FROM documents
        WHERE lang IS NOT NULL GROUP BY lang
    ), thr AS (
        SELECT lang,
               CAST(floor(4294967296 * sqrt(
                   CAST((SELECT min(cnt) FROM c) AS DOUBLE) / cnt
               )) AS BIGINT) AS t
        FROM c
    )
    SELECT d.doc_id, d.lang
    FROM documents d JOIN thr ON d.lang = thr.lang
    WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::UBIGINT
          < thr.t
    """,
)

# ---------------------------------------------------------------------------
# CSV + ORC sink/source bridges — the other two exchange formats
# pipelines meet at the edges (CSV from legacy exports, ORC from Hive
# warehouses).  Same lossless-proof contract as jsonl_roundtrip: write
# the documents table out, read it back with an EXPLICIT schema (never
# an inference pass — that is a full extra scan at corpus scale), and
# let the oracle read the ORIGINAL parquet so any quoting/escaping/
# type-coercion mangling fails the md5(text) value hash.
#
# Scale notes: CSV is written with quoteAll+escape so embedded
# delimiters/newlines survive, but multiline-quoted CSV is NOT
# line-splittable — Spark reads each such file in one task, so the
# write keeps many small-bounded files (the JSONL bridge is the
# splittable text format; CSV is for interop only).  ORC is columnar,
# splittable, predicate-pushdown-capable — a peer of parquet, and the
# round-trip proves the engine is not parquet-locked.
# ---------------------------------------------------------------------------


def _roundtrip_projection(df):
    from pyspark.sql import functions as F

    return df.select(
        "doc_id", "lang", "source", "n_chars", F.md5("text").alias("text_md5")
    )


_ROUNDTRIP_ORACLE = """
    SELECT doc_id, lang, source, n_chars, md5(text) AS text_md5
    FROM documents
"""


#: ONE definition of the CSV dialect (write and read must agree or the
#: bridge silently mangles quotes/newlines) — the hostile-content unit
#: test reuses these same dicts, so the dialect cannot drift from what
#: the test proves lossless.  nullValue pins the PostgreSQL-COPY `\N`
#: convention so NULL and '' stay DISTINCT through the bridge (the
#: default dialect writes both as "" and the explicit-schema read
#: returns both as NULL — a silent null-injection on any corpus with
#: empty strings).  The one residual coercion, inherent to sentinel
#: CSV nulls: a literal `\N` text value reads back as NULL (planted
#: and documented in the hostile-content test).
_CSV_WRITE_OPTS = {
    "header": True,
    "quoteAll": True,
    "escape": '"',
    "nullValue": "\\N",
}
_CSV_READ_OPTS = {
    "header": True,
    "escape": '"',
    "multiLine": True,
    "nullValue": "\\N",
}


def q_csv_roundtrip(spark, sf_dir):
    """(doc_id, lang, source, n_chars, text_md5) read back from a
    quoted-CSV copy of the documents table."""
    docs = _read(spark, sf_dir, "documents")
    work = _work_dir("csv_rt_")
    (
        docs.coalesce(8)
        .write.mode("overwrite")
        .options(**_CSV_WRITE_OPTS)
        .csv(f"{work}/docs")
    )
    out = spark.read.options(**_CSV_READ_OPTS).schema(
        "doc_id long, text string, lang string, source string, n_chars long"
    ).csv(f"{work}/docs")
    return _roundtrip_projection(out)


_register("csv_roundtrip", q_csv_roundtrip, _ROUNDTRIP_ORACLE)


def q_orc_roundtrip(spark, sf_dir):
    """(doc_id, lang, source, n_chars, text_md5) read back from an ORC
    copy of the documents table."""
    docs = _read(spark, sf_dir, "documents")
    work = _work_dir("orc_rt_")
    docs.coalesce(4).write.mode("overwrite").orc(f"{work}/docs")
    out = spark.read.schema(
        "doc_id long, text string, lang string, source string, n_chars long"
    ).orc(f"{work}/docs")
    return _roundtrip_projection(out)


_register("orc_roundtrip", q_orc_roundtrip, _ROUNDTRIP_ORACLE)

# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer et al. 2003, SIGMOD — the MOSS
# algorithm): positional document fingerprints with the guarantee that
# any shared word run >= W + K - 1 long yields a shared fingerprint.
# The local-similarity primitive between exact hashing and minhash.
# Plan is one shuffle-free codegen pass (see operators/dedup.py:
# winnow_fingerprints); the oracle replays the same windowed
# rightmost-argmin over identical md5-derived 60-bit gram hashes.
# ---------------------------------------------------------------------------

_WINNOW_K = 4
_WINNOW_W = 4


def q_winnow_fingerprints(spark, sf_dir):
    """(doc_id, pos, fp): distinct winnowing selections per document."""
    from .operators.dedup import winnow_fingerprints

    # widened: per-row gram hashing + window argmin; output per-row
    docs = _widen(_read(spark, sf_dir, "documents"))
    return winnow_fingerprints(docs, k=_WINNOW_K, w=_WINNOW_W)


_register(
    "winnow_fingerprints",
    q_winnow_fingerprints,
    f"""
    WITH base AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        WHERE text IS NOT NULL AND len(string_split(text, ' '))
              >= {_WINNOW_K + _WINNOW_W - 1}
    ), hashed AS (
        SELECT doc_id,
               list_transform(
                   range(1, len(ws) - {_WINNOW_K - 1} + 1),
                   i -> ('0x' || substr(md5(array_to_string(
                            ws[i:i+{_WINNOW_K - 1}], ' ')), 1, 15))::BIGINT
               ) AS h
        FROM base
    ), sel AS (
        SELECT doc_id,
               list_transform(
                   range(1, len(h) - {_WINNOW_W - 1} + 1),
                   i -> {{'pos': i + {_WINNOW_W}
                              - list_position(list_reverse(h[i:i+{_WINNOW_W - 1}]),
                                              list_min(h[i:i+{_WINNOW_W - 1}])),
                          'fp': list_min(h[i:i+{_WINNOW_W - 1}])}}
               ) AS fps
        FROM hashed
    )
    -- list_distinct over structs is unimplemented in DuckDB: dedup
    -- after unnest instead (same set the Spark array_distinct yields)
    SELECT DISTINCT doc_id, CAST(u.pos AS BIGINT) AS pos, u.fp AS fp
    FROM (SELECT doc_id, unnest(fps) AS u FROM sel)
    """,
)

# ---------------------------------------------------------------------------
# Transcript-sequence operators over the events stream — the two
# conversation-shaped reductions every transcript corpus needs before
# extraction: (a) the role/action transition matrix (a data-quality
# fingerprint of the dialog structure: user->assistant->tool loops at
# the event level), and (b) conversation-level exact dedup — whole
# ordered event-type sequences hashed per user, duplicate behavioural
# traces marked keep-first.  Mirrors the turn-ordering discipline of
# the extraction pipeline (conv_id grouping + stable turn_idx order,
# operators/extract.py) on the driver-provided events table.
#
# Scale shape (100 TB): role_transitions is ONE window shuffle on
# user_id (the same partitioning the extraction job already imposes on
# conv_id) followed by a map-side-combined count — output is
# |event_type|^2 rows, tiny.  sequence_dedup groups by user_id (one
# shuffle), reduces each conversation to ONE 32-char signature row
# (collect_list is bounded by conversation length — identical bound to
# the extraction pipeline's per-conv grouping), then resolves
# keep-first with a second window over the signature — rows entering
# that second shuffle = #conversations, not #events.
# ---------------------------------------------------------------------------



def _conv_ordered(render, with_props: bool = False):
    """Stable-turn-order conversation array: per-group (ts, event_id)
    sorted event structs, each projected by ``render`` — THE ordering
    contract every conversation operator shares (sequence_dedup,
    chat_template_render, context_windows, funnel_steps; the same
    discipline the extraction pipeline pins on conv_id/turn_idx).  One
    definition so a future tie-break change cannot desync them.

    ``with_props`` gates the payload column OUT of the collect_list
    shuffle for the operators that never render it (sequence_dedup,
    funnel_steps) — ordering is unaffected because event_id is unique.
    """
    from pyspark.sql import functions as F

    fields = ["ts", "event_id", "event_type"] + (
        ["props"] if with_props else []
    )
    return F.transform(
        F.sort_array(F.collect_list(F.struct(*fields))),
        render,
    )


def q_role_transitions(spark, sf_dir):
    """(from_type, to_type, n_transitions): adjacent event-type
    transition counts within each user's time-ordered event stream."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    events = _read(spark, sf_dir, "events")
    win = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = events.select(
        F.lag("event_type", 1).over(win).alias("from_type"),
        F.col("event_type").alias("to_type"),
    )
    return flagged.where(F.col("from_type").isNotNull()).groupBy(
        "from_type", "to_type"
    ).agg(F.count("*").cast("long").alias("n_transitions"))


_register(
    "role_transitions",
    q_role_transitions,
    """
    SELECT from_type, to_type, count(*) AS n_transitions
    FROM (
        SELECT lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS from_type,
               event_type AS to_type
        FROM events
    )
    WHERE from_type IS NOT NULL
    GROUP BY from_type, to_type
    """,
)


def q_sequence_dedup(spark, sf_dir):
    """(user_id, seq_md5, is_canonical): conversation-level exact dedup.
    Each user's ordered event-type sequence is hashed; is_canonical
    marks the smallest user_id per identical behavioural trace (the
    keep-first rule of exact_dedup lifted from rows to sequences)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    events = _read(spark, sf_dir, "events")
    # sort_array over (ts, event_id, event_type) structs gives the
    # stable turn order; the signature string joins with the 0x1f unit
    # separator (event types are short identifiers, never control
    # chars — same framing as the oracle's string_agg).
    seqs = events.groupBy("user_id").agg(
        F.md5(
            F.array_join(_conv_ordered(lambda s: s["event_type"]), "\x1f")
        ).alias("seq_md5")
    )
    win = Window.partitionBy("seq_md5")
    return seqs.select(
        "user_id",
        "seq_md5",
        (F.col("user_id") == F.min("user_id").over(win)).alias("is_canonical"),
    )


_register(
    "sequence_dedup",
    q_sequence_dedup,
    """
    WITH seqs AS (
        SELECT user_id,
               md5(string_agg(event_type, chr(31) ORDER BY ts, event_id))
                   AS seq_md5
        FROM events GROUP BY user_id
    )
    SELECT user_id, seq_md5,
           user_id = min(user_id) OVER (PARTITION BY seq_md5) AS is_canonical
    FROM seqs
    """,
)

# ---------------------------------------------------------------------------
# Edit-distance verification of LSH candidates — the standard second
# stage of a near-dup cascade (candidates from a cheap sketch, then an
# exact string metric on the SURVIVORS only; e.g. Gyawali et al.
# LREC 2020 run Levenshtein behind LSH exactly like this).  Both
# engines ship levenshtein() built-in, so the oracle is exact.
#
# Two parity guards, mirrored on both sides:
# - the metric runs on the 200-char prefix (bounded per-pair cost:
#   levenshtein is O(len^2); an unbounded text would make one hot pair
#   a straggler at corpus scale — same "cap the quadratic" discipline
#   as max_bucket_rows);
# - prefixes must be pure ASCII, checked as octet_length == char
#   length: DuckDB's levenshtein counts BYTE edits while Spark's
#   counts CHARACTER edits, so they agree exactly on ASCII and are
#   excluded where they would diverge (documented engine asymmetry,
#   probed: levenshtein('héllo','hello') = 2 in DuckDB, 1 in Spark).
#
# Scale shape: candidates come banded from simhash (never all-pairs);
# two hash joins fetch the prefixes (pairs << corpus, AQE broadcasts
# the pair side when small); similarity is exact integer permille —
# (1000*lev) DIV max_len — so no float reaches the hash.
# ---------------------------------------------------------------------------

_EDIT_PREFIX = 200
_EDIT_HAMMING_MAX = 8


def q_edit_distance_pairs(spark, sf_dir):
    """(id_a, id_b, hamming, lev, sim_permille) for simhash candidates
    at hamming <= 8 whose 200-char ASCII prefixes were compared."""
    from pyspark.sql import functions as F

    from .operators.dedup import simhash_candidates, simhash_column

    docs = _read(spark, sf_dir, "documents")
    prefixes = docs.select(
        "doc_id",
        F.substring("text", 1, _EDIT_PREFIX).alias("prefix"),
    ).where(
        F.octet_length("prefix") == F.length("prefix")  # ASCII-only guard
    )
    cand = simhash_candidates(simhash_column(docs))
    # both prefix joins are broadcast, so the quadratic per-pair
    # levenshtein keeps the candidates' partitioning: spread it first
    # (a shuffled frame, so not _widen: that would run its stages)
    pairs = cand.where(F.col("hamming") <= _EDIT_HAMMING_MAX).repartition(
        spark.sparkContext.defaultParallelism
    )
    joined = (
        pairs.join(
            prefixes.select(
                F.col("doc_id").alias("id_a"), F.col("prefix").alias("pa")
            ),
            "id_a",
        )
        .join(
            prefixes.select(
                F.col("doc_id").alias("id_b"), F.col("prefix").alias("pb")
            ),
            "id_b",
        )
    )
    lev = F.levenshtein("pa", "pb")
    max_len = F.greatest(F.length("pa"), F.length("pb"), F.lit(1))
    return joined.select(
        "id_a",
        "id_b",
        "hamming",
        lev.cast("long").alias("lev"),
        # floor BEFORE subtracting == the oracle's integer `//`: the
        # double quotient of ints <= 2e5 / <= 200 is exact on integer
        # values and > ulp away otherwise, so floor() == integer div.
        (F.lit(1000) - F.floor((F.lit(1000) * lev) / max_len)).cast(
            "long"
        ).alias("sim_permille"),
    )


_register(
    "edit_distance_pairs",
    q_edit_distance_pairs,
    f"""
    WITH prefixes AS (
        SELECT doc_id, substr(text, 1, {_EDIT_PREFIX}) AS prefix
        FROM documents
        WHERE strlen(substr(text, 1, {_EDIT_PREFIX}))
              = length(substr(text, 1, {_EDIT_PREFIX}))
    ), pairs AS (
        SELECT id_a, id_b, hamming FROM ({_SIMHASH_PAIRS_SQL})
        WHERE hamming <= {_EDIT_HAMMING_MAX}
    )
    SELECT p.id_a, p.id_b, p.hamming,
           CAST(levenshtein(a.prefix, b.prefix) AS BIGINT) AS lev,
           CAST(1000 - (1000 * levenshtein(a.prefix, b.prefix))
                       // greatest(length(a.prefix), length(b.prefix), 1)
                AS BIGINT) AS sim_permille
    FROM pairs p
    JOIN prefixes a ON a.doc_id = p.id_a
    JOIN prefixes b ON b.doc_id = p.id_b
    """,
)

# ---------------------------------------------------------------------------
# Count-min sketch heavy hitters (Cormode & Muthukrishnan 2005) — the
# streaming-friendly frequency sketch: d=4 hash rows x w=1024 buckets,
# every cell exact-integer, hashes md5-derived (the u32_md5 discipline)
# so DuckDB replicates the SKETCH itself, not just the answer.  The
# verdict joins the sketch estimate against the exact count for the
# top-20 terms: cms_est >= exact_cnt always (bound_ok is a structural
# invariant — a false would mean the sketch update is wrong).
#
# Scale shape: the token stream is reduced by a map-side-combined
# groupBy(term) FIRST, then each distinct term fans out to its 4
# (row, bucket) cells — the sketch aggregate input is |vocab| x 4
# rows, and the sketch itself is a FIXED 4,096 cells no matter the
# corpus size (that is the point of CMS at 100 TB: memory O(d*w),
# mergeable across partitions/streams by cell-wise sum).  The exact
# top-20 side exists only as the verdict, exactly like
# approx_distinct_verdict's exact branch.
# ---------------------------------------------------------------------------

_CMS_D = 4
_CMS_W = 1024
_CMS_TOPK = 20


def q_cms_heavy_hitters(spark, sf_dir):
    """(term, exact_cnt, cms_est, overcount, bound_ok) for the top-20
    corpus terms (count desc, term asc tie-break)."""
    from pyspark.sql import functions as F

    docs = _read(spark, sf_dir, "documents")
    terms = (
        docs.select(
            F.explode(F.split("text", "[\t\n\f\r ]+")).alias("term")
        )
        .where(F.col("term") != "")
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("exact_cnt"))
    )

    from .functions.sampling import u32_md5

    def bucket(i):
        salted = F.concat(F.lit(f"{i}\x1f"), F.col("term"))
        return (u32_md5(salted) % _CMS_W).alias("b")

    cells = terms.select(
        "term",
        "exact_cnt",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("r"), bucket(i))
                    for i in range(_CMS_D)
                ]
            )
        ).alias("rb"),
    ).select("term", "exact_cnt", F.col("rb.r").alias("r"), F.col("rb.b").alias("b"))
    sketch = cells.groupBy("r", "b").agg(F.sum("exact_cnt").alias("cell"))

    topk = terms.orderBy(F.desc("exact_cnt"), "term").limit(_CMS_TOPK)
    probe = cells.join(F.broadcast(topk.select("term")), "term")
    est = (
        probe.join(F.broadcast(sketch), ["r", "b"])
        .groupBy("term", "exact_cnt")
        .agg(F.min("cell").cast("long").alias("cms_est"))
    )
    return est.select(
        "term",
        "exact_cnt",
        "cms_est",
        (F.col("cms_est") - F.col("exact_cnt")).cast("long").alias("overcount"),
        (F.col("cms_est") >= F.col("exact_cnt")).alias("bound_ok"),
    )


_register(
    "cms_heavy_hitters",
    q_cms_heavy_hitters,
    f"""
    WITH terms AS (
        SELECT word AS term, count(*) AS exact_cnt
        FROM (SELECT unnest(string_split_regex(text, '\\s+')) AS word
              FROM documents)
        WHERE word <> ''
        GROUP BY word
    ), cells AS (
        SELECT term, exact_cnt, i AS r,
               ('0x' || substr(md5(CAST(i AS VARCHAR) || chr(31) || term),
                               1, 8))::UBIGINT % {_CMS_W} AS b
        FROM terms, range({_CMS_D}) t(i)
    ), sketch AS (
        SELECT r, b, sum(exact_cnt) AS cell FROM cells GROUP BY r, b
    ), topk AS (
        SELECT term, exact_cnt FROM terms
        ORDER BY exact_cnt DESC, term LIMIT {_CMS_TOPK}
    )
    SELECT c.term, t.exact_cnt,
           CAST(min(s.cell) AS BIGINT) AS cms_est,
           CAST(min(s.cell) - t.exact_cnt AS BIGINT) AS overcount,
           min(s.cell) >= t.exact_cnt AS bound_ok
    FROM topk t
    JOIN cells c ON c.term = t.term
    JOIN sketch s ON s.r = c.r AND s.b = c.b
    GROUP BY c.term, t.exact_cnt
    """,
)

# ---------------------------------------------------------------------------
# Skew-salted dimension join — the explicit form of the skew handling
# the extraction job gets from AQE.  The documents table
# is deliberately source-skewed (web-corpus domains are Zipfian); the
# per-source dim here is derived in-query (count + language census per
# source) and joined back WITHOUT broadcast — the merge hint pins the
# shuffle path so the salted shape is what actually executes (the plan
# test asserts the (source, _salt) join keys).  Row-identical to the
# plain join, which is exactly what the one-window oracle checks.
# ---------------------------------------------------------------------------

_SALT_BUCKETS = 16


def q_salted_source_join(spark, sf_dir):
    """(doc_id, source, source_docs, source_langs) via the salted join
    path of operators/relational.salted_join."""
    from pyspark.sql import functions as F

    from .operators.relational import salted_join

    docs = _read(spark, sf_dir, "documents").where(F.col("source").isNotNull())
    dim = docs.groupBy("source").agg(
        F.count("*").cast("long").alias("source_docs"),
        F.count_distinct("lang").cast("long").alias("source_langs"),
    )
    fact = docs.select("doc_id", "source")
    joined = salted_join(
        fact, dim.hint("merge"), "source", salts=_SALT_BUCKETS, fact_id="doc_id"
    )
    return joined.select("doc_id", "source", "source_docs", "source_langs")


_register(
    "salted_source_join",
    q_salted_source_join,
    """
    WITH dim AS (
        SELECT source, count(*) AS source_docs,
               count(DISTINCT lang) AS source_langs
        FROM documents WHERE source IS NOT NULL GROUP BY source
    )
    SELECT d.doc_id, d.source, dim.source_docs, dim.source_langs
    FROM documents d JOIN dim USING (source)
    WHERE d.source IS NOT NULL
    """,
)

# ---------------------------------------------------------------------------
# Inverted-index postings build — the retrieval-side data structure
# (BM25 above consumes per-term stats; this materializes the full
# postings relation a search/dedup system would persist): one row per
# (term, doc) with term frequency and first position.  Positions are
# indexes into the RAW whitespace-split array (before empty-token
# filtering), the one array both engines provably produce identically
# (simhash parity note) — so the oracle is exact on any corpus.
#
# Scale shape: posexplode -> ONE map-side-combined groupBy(term,
# doc_id).  Output rows = distinct (term, doc) pairs — the index
# itself, written partitioned by term-hash range in a real deployment.
# No window, no driver collect.
# ---------------------------------------------------------------------------


def q_inverted_postings(spark, sf_dir):
    """(term, doc_id, tf, first_pos): postings with 0-based first
    position in the raw split array."""
    from pyspark.sql import functions as F

    docs = _read(spark, sf_dir, "documents")
    tokens = docs.select(
        "doc_id",
        F.posexplode(F.split("text", "[\t\n\f\r ]+")).alias("pos", "term"),
    ).where(F.col("term") != "")
    return tokens.groupBy("term", "doc_id").agg(
        F.count("*").cast("long").alias("tf"),
        F.min("pos").cast("long").alias("first_pos"),
    )


_register(
    "inverted_postings",
    q_inverted_postings,
    """
    WITH tokens AS (
        SELECT doc_id,
               unnest(string_split_regex(text, '\\s+')) AS term,
               generate_subscripts(string_split_regex(text, '\\s+'), 1) - 1
                   AS pos
        FROM documents
    )
    SELECT term, doc_id, count(*) AS tf,
           CAST(min(pos) AS BIGINT) AS first_pos
    FROM tokens WHERE term <> ''
    GROUP BY term, doc_id
    """,
)

# ---------------------------------------------------------------------------
# PMI collocations — adjacent-bigram lift against unigram independence
# (Church & Hanks 1990), the classic collocation/phrase-mining signal.
# Scored as EXACT integer permille lift: (c_xy * 1000 * N) DIV
# (c_x * c_y), N = total unigram tokens — monotone in PMI for a fixed
# corpus, and integer-exact on both engines (int64 bound: c_xy*1000*N
# stays under 2^63 through ~sf10 corpora; a 100 TB run would move the
# product to decimal or log-space, noted here).  Top-50 by (lift desc,
# bigram), min support 3 — deterministic tie-break so the SET is
# value-stable.
#
# Scale shape: bigrams from ONE window-free self-zip (lead over the
# split array via slice arithmetic happens inside the groupBy input —
# no per-doc window); two map-side-combined aggs (bigram counts,
# unigram counts) + a broadcast of the tiny total; top-k is a
# TakeOrdered, never a global sort.
# ---------------------------------------------------------------------------

_PMI_MIN_COUNT = 3
_PMI_TOPK = 50


def q_pmi_collocations(spark, sf_dir):
    """(w1, w2, c_xy, lift_permille) for the top-50 adjacent-word
    collocations."""
    from pyspark.sql import functions as F

    docs = _read(spark, sf_dir, "documents")
    # checkpointed: the unigram and bigram branches both consume the split
    # arrays, and the unigram counts feed three consumers (total + two
    # join sides) — each would re-run its upstream otherwise
    words = docs.select(
        "doc_id",
        F.filter(
            F.split("text", "[\t\n\f\r ]+"), lambda w: w != F.lit("")
        ).alias("ws"),
    ).localCheckpoint(eager=False)
    unigrams = (
        words.select(F.explode("ws").alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    bigrams = (
        words.select(
            F.explode(
                F.zip_with(
                    F.slice("ws", 1, F.greatest(F.size("ws") - 1, F.lit(0))),
                    F.slice(
                        "ws", 2, F.greatest(F.size("ws") - 1, F.lit(0))
                    ),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                )
            ).alias("bg")
        )
        .select("bg.w1", "bg.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").cast("long").alias("c_xy"))
        .where(F.col("c_xy") >= _PMI_MIN_COUNT)
    )
    total = unigrams.agg(F.sum("c").alias("n")).select("n")
    # unigram sides are vocab-sized (can be 10M+ rows at corpus scale):
    # no broadcast hint — AQE picks broadcast at small SF, shuffle join
    # at scale.  Only the 1-row total is pinned broadcast.
    scored = (
        bigrams.join(
            unigrams.withColumnRenamed("w", "w1").withColumnRenamed("c", "c1"),
            "w1",
        )
        .join(
            unigrams.withColumnRenamed("w", "w2").withColumnRenamed("c", "c2"),
            "w2",
        )
        .crossJoin(F.broadcast(total))
        .select(
            "w1",
            "w2",
            "c_xy",
            # int64 `div` (never a double round-trip: the product can
            # pass 2^53 where floor(double/double) != DuckDB `//`)
            F.expr("(c_xy * 1000L * n) div (c1 * c2)")
            .cast("long")
            .alias("lift_permille"),
        )
    )
    return scored.orderBy(F.desc("lift_permille"), "w1", "w2").limit(_PMI_TOPK)


_register(
    "pmi_collocations",
    q_pmi_collocations,
    f"""
    WITH words AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\\s+'),
                           w -> w <> '') AS ws
        FROM documents
    ), unigrams AS (
        SELECT w, count(*) AS c
        FROM (SELECT unnest(ws) AS w FROM words) GROUP BY w
    ), bigrams AS (
        SELECT w1, w2, count(*) AS c_xy FROM (
            SELECT ws[i] AS w1, ws[i + 1] AS w2
            FROM words, LATERAL unnest(range(1, len(ws))) t(i)
        )
        GROUP BY w1, w2
        HAVING count(*) >= {_PMI_MIN_COUNT}
    ), total AS (SELECT sum(c) AS n FROM unigrams)
    SELECT b.w1, b.w2, b.c_xy,
           CAST((b.c_xy * 1000 * t.n) // (u1.c * u2.c) AS BIGINT)
               AS lift_permille
    FROM bigrams b
    JOIN unigrams u1 ON u1.w = b.w1
    JOIN unigrams u2 ON u2.w = b.w2
    CROSS JOIN total t
    ORDER BY lift_permille DESC, w1, w2
    LIMIT {_PMI_TOPK}
    """,
)

# ---------------------------------------------------------------------------
# Heaps-law vocabulary growth — the corpus-size planning curve every
# tokenizer/dedup budget estimate starts from: cumulative distinct
# vocabulary and cumulative token count at corpus deciles (by doc_id
# order).  first-seen is an aggregation property (min doc per term), so
# the whole curve costs ONE term-keyed agg — never a cumulative
# distinct-count scan.
#
# Scale shape: explode -> map-side-combined groupBy(term) min(doc_id)
# -> 10-row bucket agg + 10-row window.  The only shuffle carries one
# row per DISTINCT term (vocab-sized, not corpus-sized); the decile
# window is over exactly 10 rows.  Token deciles ride the same scan.
# ---------------------------------------------------------------------------


def q_vocab_growth(spark, sf_dir):
    """(decile, new_terms, vocab_cum, tokens, tokens_cum): Heaps-law
    growth curve over doc_id-ordered corpus deciles."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    docs = _read(spark, sf_dir, "documents")
    maxd = docs.agg((F.max("doc_id") + 1).alias("nd"))
    tokens = (
        docs.select(
            "doc_id",
            F.explode(F.split("text", "[\t\n\f\r ]+")).alias("term"),
        )
        .where(F.col("term") != "")
    )
    # decile of the doc each term FIRST appears in (int64-exact)
    first_seen = (
        tokens.groupBy("term")
        .agg(F.min("doc_id").alias("first_doc"))
        .crossJoin(F.broadcast(maxd))
        .select(F.expr("(first_doc * 10) div nd").alias("decile"))
        .groupBy("decile")
        .agg(F.count("*").cast("long").alias("new_terms"))
    )
    tok_dec = (
        tokens.crossJoin(F.broadcast(maxd))
        .select(F.expr("(doc_id * 10) div nd").alias("decile"))
        .groupBy("decile")
        .agg(F.count("*").cast("long").alias("tokens"))
    )
    win = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    # drive from token deciles (every decile holds docs); a decile with
    # zero NEW terms must still carry its tokens into the cumulatives
    return (
        tok_dec.join(first_seen, "decile", "left")
        .select(
            F.col("decile").cast("long").alias("decile"),
            F.coalesce("new_terms", F.lit(0)).cast("long").alias("new_terms"),
            "tokens",
        )
        .select(
            "decile",
            "new_terms",
            F.sum("new_terms").over(win).cast("long").alias("vocab_cum"),
            "tokens",
            F.sum("tokens").over(win).cast("long").alias("tokens_cum"),
        )
    )


_register(
    "vocab_growth",
    q_vocab_growth,
    """
    WITH nd AS (SELECT max(doc_id) + 1 AS nd FROM documents),
    tokens AS (
        SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS term
        FROM documents
    ), tok AS (SELECT * FROM tokens WHERE term <> ''),
    first_seen AS (
        SELECT (min(doc_id) * 10) // (SELECT nd FROM nd) AS decile
        FROM tok GROUP BY term
    ), nt AS (
        SELECT decile, count(*) AS new_terms FROM first_seen GROUP BY decile
    ), td AS (
        SELECT (doc_id * 10) // (SELECT nd FROM nd) AS decile,
               count(*) AS tokens
        FROM tok GROUP BY decile
    )
    SELECT CAST(td.decile AS BIGINT) AS decile,
           CAST(coalesce(nt.new_terms, 0) AS BIGINT) AS new_terms,
           CAST(sum(coalesce(nt.new_terms, 0)) OVER (ORDER BY td.decile)
                AS BIGINT) AS vocab_cum,
           CAST(td.tokens AS BIGINT) AS tokens,
           CAST(sum(td.tokens) OVER (ORDER BY td.decile) AS BIGINT)
               AS tokens_cum
    FROM td LEFT JOIN nt ON nt.decile = td.decile
    """,
)

# ---------------------------------------------------------------------------
# Chat-template rendering — the transcript->training-string step of the
# north-rule pipeline: each conversation's time-ordered turns rendered
# with role sentinels (`<|type|>payload`) into ONE string, truncated to
# a fixed context budget with the overflow flagged (never silently
# dropped).  Same conv grouping + stable turn ordering as the
# extraction job (operators/extract.py); reference turn framing:
# /root/reference (per-turn payload framing in its fixture corpus).
#
# Scale shape: ONE groupBy(user_id) shuffle; per-group state is one
# conversation (the same bound the extraction pipeline already
# accepts); render + truncate are codegen string ops.  Output rows =
# #conversations.
# ---------------------------------------------------------------------------

_CTX_BUDGET_CHARS = 480



def _render_turn(s):
    """ONE role-sentinel turn template shared by the render and the
    window assembly: <|event_type|>props."""
    from pyspark.sql import functions as F

    return F.concat(F.lit("<|"), s["event_type"], F.lit("|>"), s["props"])


def q_chat_template_render(spark, sf_dir):
    """(user_id, rendered, n_turns, full_len, truncated): role-templated
    conversation strings clipped to the context budget."""
    from pyspark.sql import functions as F

    events = _read(spark, sf_dir, "events")
    convs = events.groupBy("user_id").agg(
        F.array_join(_conv_ordered(_render_turn, with_props=True), "").alias("full_s"),
        F.count("*").cast("long").alias("n_turns"),
    )
    return convs.select(
        "user_id",
        F.substring("full_s", 1, _CTX_BUDGET_CHARS).alias("rendered"),
        "n_turns",
        F.length("full_s").cast("long").alias("full_len"),
        (F.length("full_s") > _CTX_BUDGET_CHARS).alias("truncated"),
    )


_register(
    "chat_template_render",
    q_chat_template_render,
    f"""
    WITH convs AS (
        SELECT user_id,
               string_agg('<|' || event_type || '|>' || props, ''
                          ORDER BY ts, event_id) AS full_s,
               count(*) AS n_turns
        FROM events GROUP BY user_id
    )
    SELECT user_id, substr(full_s, 1, {_CTX_BUDGET_CHARS}) AS rendered,
           n_turns, CAST(length(full_s) AS BIGINT) AS full_len,
           length(full_s) > {_CTX_BUDGET_CHARS} AS truncated
    FROM convs
    """,
)

# ---------------------------------------------------------------------------
# Sliding context windows — overlapping K-turn windows (stride S) per
# conversation, the example-assembly step for long conversations that
# exceed one context: every turn appears in >=1 window, boundaries
# deterministic.  Tail windows are kept partial (counted, not padded).
#
# Scale shape: the groupBy(user_id) shuffle is shared with the render
# above; window expansion is an array slice explode (codegen, no second
# shuffle) — output rows ~= n_turns/S per conversation.
# ---------------------------------------------------------------------------

_CTXW_K = 8
_CTXW_STRIDE = 4


def q_context_windows(spark, sf_dir):
    """(user_id, win_start, n_in_window, window_text): stride-4 windows
    of 8 role-templated turns per conversation."""
    from pyspark.sql import functions as F

    events = _read(spark, sf_dir, "events")
    convs = events.groupBy("user_id").agg(
        _conv_ordered(_render_turn, with_props=True).alias("turns")
    )
    starts = convs.select(
        "user_id",
        "turns",
        F.explode(
            F.sequence(
                F.lit(0), F.size("turns") - 1, F.lit(_CTXW_STRIDE)
            )
        ).alias("win_start"),
    )
    return starts.select(
        "user_id",
        F.col("win_start").cast("long").alias("win_start"),
        F.least(
            F.lit(_CTXW_K), F.size("turns") - F.col("win_start")
        ).cast("long").alias("n_in_window"),
        F.array_join(
            F.slice("turns", F.col("win_start") + 1, F.lit(_CTXW_K)), ""
        ).alias("window_text"),
    )


_register(
    "context_windows",
    q_context_windows,
    f"""
    WITH convs AS (
        SELECT user_id,
               list(('<|' || event_type || '|>' || props)
                    ORDER BY ts, event_id) AS turns
        FROM events GROUP BY user_id
    ), starts AS (
        SELECT user_id, turns, unnest(range(0, len(turns),
                                            {_CTXW_STRIDE})) AS win_start
        FROM convs
    )
    SELECT user_id, CAST(win_start AS BIGINT) AS win_start,
           CAST(least({_CTXW_K}, len(turns) - win_start) AS BIGINT)
               AS n_in_window,
           array_to_string(turns[win_start + 1 : win_start + {_CTXW_K}], '')
               AS window_text
    FROM starts
    """,
)

# ---------------------------------------------------------------------------
# MERGE-style batch upsert — the incremental-ingest primitive (SCD1
# counterpart of the scd2_dimension operator): apply a source delta
# (per-user event value totals) onto a target dimension (customer
# balances), emitting the post-merge state with the action tag a MERGE
# INTO would produce (update / insert / keep).  All money is integer
# cents (round-to-long at source), so the merged totals are exact on
# both engines.
#
# Scale shape: ONE map-side-combined agg on the delta + ONE full-outer
# equi-join on the key — exactly the shuffle MERGE INTO costs; AQE
# handles skewed keys.  No window, no driver collect.
# ---------------------------------------------------------------------------


def q_merge_upsert(spark, sf_dir):
    """(key, action, balance_cents): customer balances after merging
    per-user event-value deltas, MERGE INTO semantics."""
    from pyspark.sql import functions as F

    target = _read(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("key"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("old_cents"),
    )
    source = (
        _read(spark, sf_dir, "events")
        .select(
            F.col("user_id").alias("key"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        .groupBy("key")
        .agg(F.sum("cents").alias("delta_cents"))
    )
    merged = target.join(source, "key", "full_outer")
    return merged.select(
        F.col("key").cast("long").alias("key"),
        F.when(F.col("old_cents").isNull(), F.lit("insert"))
        .when(F.col("delta_cents").isNull(), F.lit("keep"))
        .otherwise(F.lit("update"))
        .alias("action"),
        (
            F.coalesce(F.col("old_cents"), F.lit(0))
            + F.coalesce(F.col("delta_cents"), F.lit(0))
        ).cast("long").alias("balance_cents"),
    )


_register(
    "merge_upsert",
    q_merge_upsert,
    """
    WITH target AS (
        SELECT c_custkey AS key,
               CAST(round(c_acctbal * 100) AS BIGINT) AS old_cents
        FROM customer
    ), source AS (
        SELECT user_id AS key,
               sum(CAST(round(value * 100) AS BIGINT)) AS delta_cents
        FROM events GROUP BY user_id
    )
    SELECT CAST(coalesce(t.key, s.key) AS BIGINT) AS key,
           CASE WHEN t.old_cents IS NULL THEN 'insert'
                WHEN s.delta_cents IS NULL THEN 'keep'
                ELSE 'update' END AS action,
           CAST(coalesce(t.old_cents, 0) + coalesce(s.delta_cents, 0)
                AS BIGINT) AS balance_cents
    FROM target t FULL OUTER JOIN source s ON t.key = s.key
    """,
)

# ---------------------------------------------------------------------------
# CUBE / GROUPING SETS — all four (segment x status) rollup combinations
# in ONE pass (complements rollup_revenue's hierarchy and
# pivot_status_by_segment's reshape).  Grouping flags are emitted as
# explicit is_*_total ints rather than engine grouping_id bit vectors
# (bit order is engine-defined; the flags aren't).
#
# Scale shape: broadcast dim join (customer segment onto orders), then
# Spark expands CUBE into a single Expand + ONE map-side-combined agg —
# 4x partial rows, never 4 scans.  Integer cents keep the hash exact.
# ---------------------------------------------------------------------------


def q_cube_revenue(spark, sf_dir):
    """(segment, status, is_segment_total, is_status_total,
    revenue_cents, n_orders): full CUBE over market segment x order
    status."""
    from pyspark.sql import functions as F

    orders = _read(spark, sf_dir, "orders")
    customer = _read(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    joined = orders.join(
        F.broadcast(customer), orders.o_custkey == customer.c_custkey
    ).select(
        F.col("c_mktsegment").alias("segment"),
        F.col("o_orderstatus").alias("status"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    return (
        joined.cube("segment", "status")
        .agg(
            F.grouping("segment").cast("long").alias("is_segment_total"),
            F.grouping("status").cast("long").alias("is_status_total"),
            F.sum("cents").alias("revenue_cents"),
            F.count("*").cast("long").alias("n_orders"),
        )
        .select(
            "segment",
            "status",
            "is_segment_total",
            "is_status_total",
            "revenue_cents",
            "n_orders",
        )
    )


_register(
    "cube_revenue",
    q_cube_revenue,
    """
    SELECT c_mktsegment AS segment, o_orderstatus AS status,
           CAST(GROUPING(c_mktsegment) AS BIGINT) AS is_segment_total,
           CAST(GROUPING(o_orderstatus) AS BIGINT) AS is_status_total,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
           count(*) AS n_orders
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY CUBE (c_mktsegment, o_orderstatus)
    """,
)

# ---------------------------------------------------------------------------
# Partition-key skew profile — the diagnostic a 100 TB job runs BEFORE
# choosing salt factors / AQE thresholds (the salted_source_join and
# extraction repartition knobs are set from exactly this shape): per-key
# row counts bucketed by binary magnitude (bucket = #binary digits of
# the count — integer-exact on both engines via base-2 digit strings,
# no float log2).
#
# Scale shape: ONE map-side-combined groupBy(key) count + a tiny
# second agg over distinct-key rows; output <= 64 rows.  The skew
# verdict (max/mean permille) is int64 exact.
# ---------------------------------------------------------------------------


def q_key_skew_profile(spark, sf_dir):
    """(cnt_bits, n_keys, min_cnt, max_cnt, rows, share_permille):
    histogram of per-user event counts by binary magnitude."""
    from pyspark.sql import functions as F

    events = _read(spark, sf_dir, "events")
    per_key = events.groupBy("user_id").agg(
        F.count("*").cast("long").alias("cnt")
    )
    # sum(per-key counts) == plain event count: never recompute the
    # per-key agg just to total it
    total = events.agg(F.count("*").alias("total_rows"))
    return (
        per_key.select(
            F.length(F.conv(F.col("cnt"), 10, 2)).cast("long").alias(
                "cnt_bits"
            ),
            "cnt",
        )
        .groupBy("cnt_bits")
        .agg(
            F.count("*").cast("long").alias("n_keys"),
            F.min("cnt").alias("min_cnt"),
            F.max("cnt").alias("max_cnt"),
            F.sum("cnt").alias("rows"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "cnt_bits",
            "n_keys",
            "min_cnt",
            "max_cnt",
            "rows",
            F.expr("(rows * 1000) div total_rows").alias("share_permille"),
        )
    )


_register(
    "key_skew_profile",
    q_key_skew_profile,
    """
    WITH per_key AS (
        SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id
    ), total AS (SELECT sum(cnt) AS total_rows FROM per_key)
    SELECT CAST(length(bin(cnt)) AS BIGINT) AS cnt_bits,
           count(*) AS n_keys,
           min(cnt) AS min_cnt, max(cnt) AS max_cnt,
           CAST(sum(cnt) AS BIGINT) AS rows,
           CAST((sum(cnt) * 1000) // t.total_rows AS BIGINT)
               AS share_permille
    FROM per_key, total t
    GROUP BY cnt_bits, t.total_rows
    """,
)

# ---------------------------------------------------------------------------
# Partitioned write + partition-pruned read — the data-layout half of
# the sink story (csv/orc/jsonl prove formats; this proves LAYOUT):
# documents written `partitionBy(lang)`, read back with a lang
# predicate that must be satisfied by DIRECTORY pruning (the scan's
# PartitionFilters — pinned in tests/test_plans.py), never by reading
# and filtering row groups.  The oracle reads the ORIGINAL parquet, so
# any value mangling through the partition encoding (lang leaves the
# data files and comes back from directory names) fails the hash.
#
# Scale note: partition columns must be low-cardinality (5 langs here;
# 10^3-ish max in practice) — high-cardinality keys go to bucketing
# instead (see bucketed_colocated_join).
# ---------------------------------------------------------------------------

_PRUNE_LANGS = ("de", "fr")


def q_partitioned_write_prune(spark, sf_dir):
    """(doc_id, lang, source, n_chars, text_md5) for the pruned langs,
    read back through a lang-partitioned copy."""
    from pyspark.sql import functions as F

    docs = _read(spark, sf_dir, "documents")
    work = _work_dir("part_prune_")
    docs.write.mode("overwrite").partitionBy("lang").parquet(f"{work}/docs")
    out = spark.read.parquet(f"{work}/docs").where(
        F.col("lang").isin(*_PRUNE_LANGS)
    )
    return _roundtrip_projection(out)


_register(
    "partitioned_write_prune",
    q_partitioned_write_prune,
    f"""
    SELECT doc_id, lang, source, n_chars, md5(text) AS text_md5
    FROM documents WHERE lang IN {_PRUNE_LANGS!r}
    """,
)

# ---------------------------------------------------------------------------
# Triangle counting over the near-dup graph — the third graph operator
# (after connected components and PageRank): per-vertex triangle
# participation, the clustering-coefficient numerator used to separate
# clone CLIQUES from chain-shaped false-positive paths in a dedup
# graph.
#
# Scale shape: edges oriented id_a < id_b; wedges = ONE self-equi-join
# on the middle vertex; closure = ONE semi-join back to the edge set —
# never an all-pairs pass.  Clone components are cliques, so an s-node
# clique holds O(s^3) triangles: vertices with degree > _TRI_DEG_CAP
# are EXCLUDED from the wedge join and reported with excluded=true
# (loud, counted — the hub-split standard in distributed triangle
# counting), which hard-bounds wedge fan-out at cap^2 per vertex.
# ---------------------------------------------------------------------------

_TRI_DEG_CAP = 64


def q_triangle_count(spark, sf_dir):
    """(doc_id, n_triangles, excluded): triangle participation per
    vertex of the hamming<=3 simhash graph; degree-capped hubs are
    reported excluded rather than silently dropped."""
    from pyspark.sql import functions as F

    from .operators.dedup import simhash_candidates, simhash_column

    docs = _read(spark, sf_dir, "documents")
    cand = simhash_candidates(simhash_column(docs))
    # checkpointed: fe references edges three times, and the truncated
    # plan cuts the query's plan from 112 Exchange / 137 Python nodes to
    # a flat RDD scan (measured ~0.6s of planning+reuse overhead at
    # sf0.1); blocks are reclaimed by the ContextCleaner
    edges = (
        cand.where(F.col("hamming") <= 3)
        .select("id_a", "id_b")
        .localCheckpoint()
    )
    deg = (
        edges.select(F.col("id_a").alias("v"))
        .unionAll(edges.select(F.col("id_b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").cast("long").alias("deg"))
        .localCheckpoint()
    )
    hubs = deg.where(F.col("deg") > _TRI_DEG_CAP).select("v")
    fe = (
        edges.join(hubs.withColumnRenamed("v", "id_a"), "id_a", "left_anti")
        .join(hubs.withColumnRenamed("v", "id_b"), "id_b", "left_anti")
        .select("id_a", "id_b")
    )
    wedges = fe.alias("e1").join(
        fe.alias("e2"), F.col("e1.id_b") == F.col("e2.id_a")
    ).select(
        F.col("e1.id_a").alias("a"),
        F.col("e1.id_b").alias("b"),
        F.col("e2.id_b").alias("c"),
    )
    tris = wedges.join(
        fe.withColumnRenamed("id_a", "a").withColumnRenamed("id_b", "c"),
        ["a", "c"],
    )
    per_vertex = (
        tris.select(F.explode(F.array("a", "b", "c")).alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_triangles"))
        .withColumn("excluded", F.lit(False))
    )
    excluded = hubs.select(
        F.col("v").alias("doc_id"),
        F.lit(0).cast("long").alias("n_triangles"),
        F.lit(True).alias("excluded"),
    )
    return per_vertex.unionByName(excluded)


_register(
    "triangle_count",
    q_triangle_count,
    f"""
    WITH pairs AS MATERIALIZED (
        SELECT id_a, id_b FROM ({_SIMHASH_PAIRS_SQL}) WHERE hamming <= 3
    ), deg AS (
        SELECT v, count(*) AS deg FROM (
            SELECT id_a AS v FROM pairs UNION ALL SELECT id_b FROM pairs
        ) GROUP BY v
    ), hubs AS (SELECT v FROM deg WHERE deg > {_TRI_DEG_CAP}),
    fe AS MATERIALIZED (
        SELECT id_a, id_b FROM pairs
        WHERE id_a NOT IN (SELECT v FROM hubs)
          AND id_b NOT IN (SELECT v FROM hubs)
    ), tris AS (
        SELECT e1.id_a AS a, e1.id_b AS b, e2.id_b AS c
        FROM fe e1 JOIN fe e2 ON e1.id_b = e2.id_a
        JOIN fe e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b
    )
    SELECT doc_id, count(*) AS n_triangles, FALSE AS excluded
    FROM (
        SELECT a AS doc_id FROM tris
        UNION ALL SELECT b FROM tris
        UNION ALL SELECT c FROM tris
    ) GROUP BY doc_id
    UNION ALL
    SELECT v AS doc_id, 0 AS n_triangles, TRUE AS excluded FROM hubs
    """,
)

# ---------------------------------------------------------------------------
# Bigram LM scoring — the fluency upgrade of unigram_logprob: per-doc
# mean-free SUM of MLE bigram log-probs ln(c_xy / c_x) against corpus
# statistics, quantized per DISTINCT bigram to integer micro-nats
# before the weighted sum (the tfidf_keywords ln idiom: both engines
# quantize the same double, so per-doc totals are exact int64 sums —
# float error can never accumulate across a document).
#
# Scale shape: per-doc bigram counts (inverted-postings shape) ->
# corpus bigram/unigram aggs (vocab-sized shuffles) -> one equi-join
# back on the bigram key -> per-doc int sum.  No window, no driver
# collect, no broadcast hint on vocab-sized sides.
# ---------------------------------------------------------------------------


def q_bigram_logprob(spark, sf_dir):
    """(doc_id, n_bigrams, score_micro): additive bigram-LM fluency
    score in integer micro-nats (higher = more typical of the corpus)."""
    from pyspark.sql import functions as F

    docs = _read(spark, sf_dir, "documents")
    # checkpointed: the bigram explode and the unigram count both consume
    # the split arrays — one narrow materialization, one regex split
    # (the dup_span_stats pattern)
    words = docs.select(
        "doc_id",
        F.filter(
            F.split("text", "[\t\n\f\r ]+"), lambda w: w != F.lit("")
        ).alias("ws"),
    ).localCheckpoint(eager=False)
    doc_bigrams = (
        words.select(
            "doc_id",
            F.explode(
                F.zip_with(
                    F.slice("ws", 1, F.greatest(F.size("ws") - 1, F.lit(0))),
                    F.slice("ws", 2, F.greatest(F.size("ws") - 1, F.lit(0))),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                )
            ).alias("bg"),
        )
        .select("doc_id", "bg.w1", "bg.w2")
        .groupBy("doc_id", "w1", "w2")
        .agg(F.count("*").cast("long").alias("k"))
        # checkpointed: three consumers (c_xy, the quant join, the final
        # per-doc sum) would each re-run the split+zip explode
        .localCheckpoint(eager=False)
    )
    c_xy = doc_bigrams.groupBy("w1", "w2").agg(F.sum("k").alias("c_xy"))
    c_x = (
        words.select(F.explode("ws").alias("w1"))
        .groupBy("w1")
        .agg(F.count("*").cast("long").alias("c_x"))
    )
    quant = c_xy.join(c_x, "w1").select(
        "w1",
        "w2",
        F.round(
            F.log(F.col("c_xy").cast("double") / F.col("c_x")) * 1e6
        ).cast("long").alias("q_micro"),
    )
    return (
        doc_bigrams.join(quant, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.sum("k").cast("long").alias("n_bigrams"),
            F.sum(F.col("k") * F.col("q_micro")).cast("long").alias(
                "score_micro"
            ),
        )
    )


_register(
    "bigram_logprob",
    q_bigram_logprob,
    """
    WITH words AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\\s+'),
                           w -> w <> '') AS ws
        FROM documents
    ), doc_bigrams AS (
        SELECT doc_id, w1, w2, count(*) AS k FROM (
            SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
            FROM words, LATERAL unnest(range(1, len(ws))) t(i)
        ) GROUP BY doc_id, w1, w2
    ), cxy AS (
        SELECT w1, w2, sum(k) AS c_xy FROM doc_bigrams GROUP BY w1, w2
    ), cx AS (
        SELECT w1, count(*) AS c_x
        FROM (SELECT doc_id, unnest(ws) AS w1 FROM words) GROUP BY w1
    ), quant AS (
        SELECT c.w1, c.w2,
               CAST(round(ln(CAST(c.c_xy AS DOUBLE) / x.c_x) * 1e6)
                    AS BIGINT) AS q_micro
        FROM cxy c JOIN cx x USING (w1)
    )
    SELECT d.doc_id, CAST(sum(d.k) AS BIGINT) AS n_bigrams,
           CAST(sum(d.k * q.q_micro) AS BIGINT) AS score_micro
    FROM doc_bigrams d JOIN quant q USING (w1, w2)
    GROUP BY d.doc_id
    """,
)

# ---------------------------------------------------------------------------
# Canonical-document selection — the retention POLICY on top of
# dedup_groups: real pipelines don't keep the arbitrary minimum id per
# near-dup cluster, they keep the BEST member (here: longest text,
# ties to the smaller doc_id — deterministic total order).  Output is
# the full per-doc verdict so the downstream anti-join is one filter.
#
# Scale shape: the component labels cost what dedup_groups costs
# (iterative hash-min, lineage-truncated); the policy itself is ONE
# window over group_id — group-bounded, never corpus-wide.
# ---------------------------------------------------------------------------


def q_canonical_docs(spark, sf_dir):
    """(doc_id, group_id, group_size, keep): keep-best-per-cluster
    retention — keeper = longest n_chars, tie-break smallest doc_id."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from .operators.dedup import simhash_candidates, simhash_column
    from .operators.graph import dedup_groups

    docs = _read(spark, sf_dir, "documents")
    cand = simhash_candidates(simhash_column(docs))
    edges = cand.where(F.col("hamming") <= 3)
    groups = dedup_groups(docs, edges)
    win = Window.partitionBy("group_id").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    return (
        groups.join(docs.select("doc_id", "n_chars"), "doc_id")
        .withColumn("rn", F.row_number().over(win))
        .select(
            "doc_id",
            "group_id",
            "group_size",
            (F.col("rn") == 1).alias("keep"),
        )
    )


_register(
    "canonical_docs",
    q_canonical_docs,
    f"""
    SELECT g.doc_id, g.group_id, g.group_size,
           row_number() OVER (PARTITION BY g.group_id
                              ORDER BY d.n_chars DESC, g.doc_id) = 1 AS keep
    FROM ({_dedup_groups_oracle_sql()}) g
    JOIN documents d ON d.doc_id = g.doc_id
    """,
)

# ---------------------------------------------------------------------------
# Bucketed co-located join — the shuffle-avoidance layout for
# HIGH-cardinality keys (partitionBy handles low-cardinality; this is
# the other half): orders and customer both written `bucketBy(8, key)`
# + in-bucket sorted, then joined WITHOUT a shuffle — the scan itself
# satisfies the join's distribution requirement, so the only Exchange
# in the whole plan is the final tiny rollup (pinned in
# tests/test_plans.py).  At 10^12-turn scale this is the simhash
# signature-table / checkpoint-table layout: pay the bucketed write
# once, join shuffle-free forever after.
#
# The merge-join hint pins the path the bucketing is FOR (a broadcast
# would also skip the shuffle at bench scale, proving nothing).
# ---------------------------------------------------------------------------


def q_bucketed_colocated_join(spark, sf_dir):
    """(segment, n_orders, revenue_cents) via a zero-shuffle join of
    two bucketed tables."""
    from pyspark.sql import functions as F

    work = _work_dir("bucketed_")
    (
        # repartition by the bucket key with the bucket count: Spark's
        # bucket spec uses the same HashPartitioning, so each write task
        # holds exactly one bucket — 8 parallel writers instead of the
        # single-split scan writing all 8 bucket files serially
        _read(spark, sf_dir, "orders")
        .repartition(8, "o_custkey")
        .write.mode("overwrite")
        .option("path", f"{work}/orders_b")
        .bucketBy(8, "o_custkey")
        .sortBy("o_custkey")
        .format("parquet")
        .saveAsTable("bench_orders_bucketed")
    )
    (
        _read(spark, sf_dir, "customer")
        .repartition(8, "c_custkey")
        .write.mode("overwrite")
        .option("path", f"{work}/customer_b")
        .bucketBy(8, "c_custkey")
        .sortBy("c_custkey")
        .format("parquet")
        .saveAsTable("bench_customer_bucketed")
    )
    orders = spark.table("bench_orders_bucketed")
    customer = spark.table("bench_customer_bucketed")
    joined = orders.hint("merge").join(
        customer, orders.o_custkey == customer.c_custkey
    )
    return joined.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "revenue_cents"
        ),
    )


_register(
    "bucketed_colocated_join",
    q_bucketed_colocated_join,
    """
    SELECT c_mktsegment AS segment, count(*) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS revenue_cents
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)

# ---------------------------------------------------------------------------
# Funnel analysis — ordered-subsequence progress per user through a
# fixed step sequence (view -> click -> purchase), the canonical
# product-analytics reduction.  Spark computes it with ONE shuffle:
# per-user sorted event array + a fold (F.aggregate) that advances a
# progress pointer greedily — earliest-match semantics.  The oracle
# reproduces the same semantics relationally (p1 = first 'view',
# p2 = first 'click' AFTER p1, p3 = first 'purchase' after p2), an
# independent construction that provably equals the greedy fold.
#
# Scale shape: groupBy(user) — the conversation-grouping shuffle again;
# the fold is a codegen array expression, per-group state bounded by
# conversation length.  No window over the corpus, no second shuffle.
# ---------------------------------------------------------------------------

_FUNNEL_STEPS = ("view", "click", "purchase")


def q_funnel_steps(spark, sf_dir):
    """(user_id, steps_reached): how far each user advances through
    view -> click -> purchase, by greedy earliest matching."""
    from pyspark.sql import functions as F

    events = _read(spark, sf_dir, "events")
    steps_lit = F.array(*[F.lit(s) for s in _FUNNEL_STEPS])
    n = len(_FUNNEL_STEPS)
    arrs = events.groupBy("user_id").agg(
        _conv_ordered(lambda s: s["event_type"]).alias("types")
    )
    return arrs.select(
        "user_id",
        F.aggregate(
            "types",
            F.lit(0),
            lambda acc, x: F.when(
                (acc < n) & (x == F.element_at(steps_lit, acc + 1)), acc + 1
            ).otherwise(acc),
        ).cast("long").alias("steps_reached"),
    )


_register(
    "funnel_steps",
    q_funnel_steps,
    f"""
    WITH pos AS (
        SELECT user_id, event_type,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS p
        FROM events
    ), s1 AS (
        SELECT user_id,
               min(CASE WHEN event_type = '{_FUNNEL_STEPS[0]}' THEN p END) AS p1
        FROM pos GROUP BY user_id
    ), s2 AS (
        SELECT pos.user_id, min(p) AS p2
        FROM pos JOIN s1 USING (user_id)
        WHERE event_type = '{_FUNNEL_STEPS[1]}' AND p > p1
        GROUP BY pos.user_id
    ), s3 AS (
        SELECT pos.user_id, min(p) AS p3
        FROM pos JOIN s2 USING (user_id)
        WHERE event_type = '{_FUNNEL_STEPS[2]}' AND p > p2
        GROUP BY pos.user_id
    )
    SELECT u.user_id,
           CAST(CASE WHEN s3.p3 IS NOT NULL THEN 3
                     WHEN s2.p2 IS NOT NULL THEN 2
                     WHEN s1.p1 IS NOT NULL THEN 1
                     ELSE 0 END AS BIGINT) AS steps_reached
    FROM (SELECT DISTINCT user_id FROM events) u
    LEFT JOIN s1 USING (user_id)
    LEFT JOIN s2 USING (user_id)
    LEFT JOIN s3 USING (user_id)
    """,
)

# ---------------------------------------------------------------------------
# Cohort retention — users grouped by first-activity week, counted per
# week offset: the classic retention triangle.  All time arithmetic is
# INTEGER (epoch-days div 7), never engine week-of-year rules (ISO vs
# US week numbering would silently skew cohorts between engines).
#
# Scale shape: (user, week) distinct -> per-user min (both map-side
# combined on the same user key) -> tiny (cohort x offset) agg.
# ---------------------------------------------------------------------------


def q_cohort_retention(spark, sf_dir):
    """(cohort_week, offset_weeks, n_users): retention triangle over
    integer epoch-weeks."""
    from pyspark.sql import functions as F

    events = _read(spark, sf_dir, "events")
    weeks = (
        events.select(
            "user_id",
            F.expr(
                "datediff(cast(ts as date), date'1970-01-01') div 7"
            ).alias("wk"),
        )
        .distinct()
    )
    cohort = weeks.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    return (
        weeks.join(cohort, "user_id")
        .groupBy(
            F.col("cohort_wk").cast("long").alias("cohort_week"),
            (F.col("wk") - F.col("cohort_wk")).cast("long").alias(
                "offset_weeks"
            ),
        )
        .agg(F.count("*").cast("long").alias("n_users"))
    )


_register(
    "cohort_retention",
    q_cohort_retention,
    """
    WITH weeks AS (
        SELECT DISTINCT user_id,
               date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7
                   AS wk
        FROM events
    ), cohort AS (
        SELECT user_id, min(wk) AS cohort_wk FROM weeks GROUP BY user_id
    )
    SELECT CAST(cohort_wk AS BIGINT) AS cohort_week,
           CAST(wk - cohort_wk AS BIGINT) AS offset_weeks,
           count(*) AS n_users
    FROM weeks JOIN cohort USING (user_id)
    GROUP BY cohort_wk, wk - cohort_wk
    """,
)

# ---------------------------------------------------------------------------
# Z-order layout clustering — multi-dimensional data layout for range
# queries (the Delta OPTIMIZE ZORDER primitive): each dimension is
# quantized to 256 bins over its OBSERVED min/max (raw ids/days leave
# most of a fixed bit-domain empty — quantize first, like any real
# z-order write does), the bin indexes are bit-interleaved into a
# 16-bit z-value, and rows are assigned to layout buckets by z-prefix.
# The output proves LOCALITY: each bucket's (user, day) bin bounding
# box is a 16x16 tile of the 256x256 domain — a min/max-indexed scan
# skips every non-overlapping bucket for a 2-D range predicate, which
# no single-key sort can give both dimensions at once.
#
# Integer-exact on both engines: quantization is int64 `div` on spans,
# the interleave is 8 shift-mask-or terms per dimension generated from
# ONE Python loop into BOTH the Spark expression and the oracle SQL.
#
# Scale shape: the min/max pre-pass is one tiny agg (broadcast 1-row);
# z-value is a codegen scalar; bucket stats are ONE map-side-combined
# agg.  The real write would be repartitionByRange(zval) +
# sortWithinPartitions — this query is the layout-planning pass that
# validates the clustering before paying it.
# ---------------------------------------------------------------------------

_Z_BITS = 8  # 256 bins per dimension
_Z_BUCKET_SHIFT = 8  # 16-bit z-space >> 8 -> 256 buckets (16x16 tiles)


def _interleave_expr(xcol: str, ycol: str) -> str:
    """SQL for bit-interleaving two 8-bit ints (x even bits, y odd) —
    identical text works as a Spark expression and as DuckDB SQL."""
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"((({xcol} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({ycol} >> {i}) & 1) << {2 * i + 1})")
    return " | ".join(terms)


def q_zorder_layout(spark, sf_dir):
    """(bucket, n_rows, u_min, u_max, d_min, d_max): bin-space bounding
    box per z-order layout bucket over (user_id, epoch_day)."""
    from pyspark.sql import functions as F

    events = _read(spark, sf_dir, "events")
    dims = events.select(
        F.col("user_id").cast("long").alias("u"),
        F.expr("cast(datediff(cast(ts as date), date'1970-01-01') as long)")
        .alias("d"),
    )
    stats = dims.agg(
        F.min("u").alias("u_min_g"),
        F.max("u").alias("u_max_g"),
        F.min("d").alias("d_min_g"),
        F.max("d").alias("d_max_g"),
    )
    binned = dims.crossJoin(F.broadcast(stats)).select(
        F.expr("((u - u_min_g) * 256) div (u_max_g - u_min_g + 1)").alias(
            "ub"
        ),
        F.expr("((d - d_min_g) * 256) div (d_max_g - d_min_g + 1)").alias(
            "db"
        ),
    )
    z = binned.select(
        "ub", "db", F.expr(_interleave_expr("ub", "db")).alias("zval")
    )
    return (
        z.select(
            F.shiftrightunsigned("zval", _Z_BUCKET_SHIFT).cast("long").alias(
                "bucket"
            ),
            "ub",
            "db",
        )
        .groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.min("ub").alias("u_min"),
            F.max("ub").alias("u_max"),
            F.min("db").alias("d_min"),
            F.max("db").alias("d_max"),
        )
    )


_register(
    "zorder_layout",
    q_zorder_layout,
    f"""
    WITH dims AS (
        SELECT CAST(user_id AS BIGINT) AS u,
               CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                    AS BIGINT) AS d
        FROM events
    ), stats AS (
        SELECT min(u) AS u_min_g, max(u) AS u_max_g,
               min(d) AS d_min_g, max(d) AS d_max_g
        FROM dims
    ), binned AS (
        SELECT ((u - u_min_g) * 256) // (u_max_g - u_min_g + 1) AS ub,
               ((d - d_min_g) * 256) // (d_max_g - d_min_g + 1) AS db
        FROM dims, stats
    ), z AS (
        SELECT ub, db, ({_interleave_expr("ub", "db")}) AS zval FROM binned
    )
    SELECT CAST(zval >> {_Z_BUCKET_SHIFT} AS BIGINT) AS bucket,
           count(*) AS n_rows,
           min(ub) AS u_min, max(ub) AS u_max,
           min(db) AS d_min, max(db) AS d_max
    FROM z GROUP BY bucket
    """,
)

# ---------------------------------------------------------------------------
# Stratified allocation (largest-remainder / Hamilton apportionment) —
# the eval-set construction step: a FIXED sample budget apportioned
# across language strata exactly proportionally (floor quota + one
# extra to the largest remainders, ties to the lexicographically
# smaller lang), then drawn deterministically per stratum via the
# skew-safe two-phase quota ranker (functions/sampling).  Everything
# integer: quotas sum to the budget BY CONSTRUCTION.
#
# Scale shape: strata stats are a bounded #langs-row collect (the
# lang_temperature_sample discipline); the draw is the salted two-phase
# top-N — no global window, no corpus-sized driver traffic.
# ---------------------------------------------------------------------------

_STRAT_BUDGET = 120


def _largest_remainder(counts: dict, budget: int) -> dict:
    """Hamilton apportionment: exact integer quotas summing to budget."""
    total = sum(counts.values())
    floors = {k: (budget * n) // total for k, n in counts.items()}
    rems = {k: (budget * n) % total for k, n in counts.items()}
    leftover = budget - sum(floors.values())
    for k in sorted(rems, key=lambda k: (-rems[k], k))[:leftover]:
        floors[k] += 1
    return floors


def q_stratified_sample(spark, sf_dir):
    """(doc_id, lang, quota_rank): exactly _STRAT_BUDGET docs drawn
    proportionally across langs by largest-remainder apportionment."""
    from pyspark.sql import functions as F

    from .functions.sampling import quota_rank_per_group

    docs = _read(spark, sf_dir, "documents").where(F.col("lang").isNotNull())
    counts = {
        r["lang"]: r["cnt"]
        for r in docs.groupBy("lang").agg(F.count("*").alias("cnt")).collect()
    }
    quotas = _largest_remainder(counts, _STRAT_BUDGET)
    qmap = F.create_map(
        *[F.lit(x) for kv in sorted(quotas.items()) for x in kv]
    )
    ranked = quota_rank_per_group(
        docs.select("doc_id", "lang"), "lang", n=max(quotas.values())
    )
    return ranked.where(
        F.col("quota_rank") <= qmap[F.col("lang")]
    ).select("doc_id", "lang", "quota_rank")


_register(
    "stratified_sample",
    q_stratified_sample,
    f"""
    WITH c AS (
        SELECT lang, count(*) AS cnt FROM documents
        WHERE lang IS NOT NULL GROUP BY lang
    ), tot AS (SELECT sum(cnt) AS total FROM c),
    fl AS (
        SELECT lang, ({_STRAT_BUDGET} * cnt) // t.total AS fq,
               ({_STRAT_BUDGET} * cnt) % t.total AS rem
        FROM c, tot t
    ), leftover AS (
        SELECT {_STRAT_BUDGET} - sum(fq) AS k FROM fl
    ), quotas AS (
        SELECT lang,
               fq + CASE WHEN row_number() OVER (ORDER BY rem DESC, lang)
                         <= (SELECT k FROM leftover)
                    THEN 1 ELSE 0 END AS quota
        FROM fl
    ), ranked AS (
        SELECT doc_id, lang,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                            1, 8))::UBIGINT, doc_id
               ) AS quota_rank
        FROM documents WHERE lang IS NOT NULL
    )
    SELECT r.doc_id, r.lang, CAST(r.quota_rank AS BIGINT) AS quota_rank
    FROM ranked r JOIN quotas q USING (lang)
    WHERE r.quota_rank <= q.quota
    """,
)


# ---------------------------------------------------------------------------
# Quantile-sketch accuracy verdict — the percentile companion of
# approx_distinct_verdict (HLL) and cms_heavy_hitters (Count-Min):
# exact per-row percentile windows don't scale to 10^12 rows, so the
# scale path is approx_percentile (mergeable GK-style sketch).  The
# sketch estimate stays OUT of the value hash; what gets value-checked
# is the EXACT percentile (integer cents) plus the in-query assertion
# that the sketch landed inside its RANK-ERROR contract.
#
# Exactness discipline: "exact percentile" is pinned to ONE definition
# on both engines — the smallest value whose cumulative count reaches
# ceil(p*n) — computed from per-DISTINCT-value counts + a running sum
# over the value domain (the shuffle carries one row per distinct
# price, ~domain-bounded, not corpus-bounded), never an engine
# percentile builtin (disc/cont boundary rules differ between engines).
# ---------------------------------------------------------------------------

_QSK_ACC = 10_000  # approx_percentile accuracy: rank err <= n/acc


def q_quantile_sketch(spark, sf_dir):
    """(p_label, exact_cents, within_contract): exact o_totalprice
    percentiles + sketch rank-error verdict."""
    from functools import reduce

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    orders = _read(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents")
    )
    counts = orders.groupBy("cents").agg(F.count("*").alias("k"))
    win = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    cum = counts.select(
        "cents", F.sum("k").over(win).alias("cum")
    ).localCheckpoint(eager=False)
    # ONE scan for the row count and the sketch (was two), and ONE
    # aggregation per percentile over the checkpointed cum table instead of
    # three where+agg branches crossJoined (min(when(cum >= rank)) ==
    # min over the filtered rows; 9 scans + 6 crossJoins -> 3 scans)
    row = orders.agg(
        F.count("*").alias("n"),
        F.percentile_approx("cents", [0.5, 0.95, 0.99], _QSK_ACC).alias("est"),
    ).first()
    n, approx = row["n"], row["est"]
    parts = []
    import math

    for i, (label, p) in enumerate((("p50", 0.5), ("p95", 0.95), ("p99", 0.99))):
        target = max(1, math.ceil(p * n))
        tol = n // _QSK_ACC + 1
        lo_rank, hi_rank = max(1, target - tol), min(n, target + tol)
        bounds = cum.agg(
            F.min(F.when(F.col("cum") >= target, F.col("cents"))).alias(
                "exact_cents"
            ),
            F.min(F.when(F.col("cum") >= lo_rank, F.col("cents"))).alias("lo"),
            F.min(F.when(F.col("cum") >= hi_rank, F.col("cents"))).alias("hi"),
        )
        parts.append(
            bounds.select(
                F.lit(label).alias("p_label"),
                "exact_cents",
                (
                    (F.lit(int(approx[i])) >= F.col("lo"))
                    & (F.lit(int(approx[i])) <= F.col("hi"))
                ).alias("within_contract"),
            )
        )
    return reduce(lambda a, b: a.unionByName(b), parts)


_register(
    "quantile_sketch",
    q_quantile_sketch,
    """
    WITH cum AS (
        SELECT cents, sum(k) OVER (ORDER BY cents) AS cum FROM (
            SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                   count(*) AS k
            FROM orders GROUP BY 1
        )
    ), n AS (SELECT count(*) AS n FROM orders)
    SELECT 'p50' AS p_label,
           (SELECT min(cents) FROM cum, n
            WHERE cum >= CEIL(0.5 * n.n)) AS exact_cents,
           TRUE AS within_contract
    UNION ALL
    SELECT 'p95', (SELECT min(cents) FROM cum, n
                   WHERE cum >= CEIL(0.95 * n.n)), TRUE
    UNION ALL
    SELECT 'p99', (SELECT min(cents) FROM cum, n
                   WHERE cum >= CEIL(0.99 * n.n)), TRUE
    """,
)

# ---------------------------------------------------------------------------
# Streaming sessionization — streaming/sessionize.py run over the
# events table split into two time-ordered micro-batches plus two
# sentinel flush batches (the watermark only passes a session's
# last+gap once LATER data arrives; the sentinels provide that "later
# data" so availableNow termination flushes every open session —
# exactly the late-data mechanics a production stream lives with).
# The oracle is the SAME SQL as the batch session_window_counts: the
# streamed union of gap-break emissions and timeout flushes must equal
# the batch result row-for-row.
# ---------------------------------------------------------------------------


def q_stream_sessionize(spark, sf_dir):
    """(user_id, session_start, session_end, n_events) streamed with
    event-time timeouts; equals the batch session_window result."""
    import datetime as dt

    from pyspark.sql import functions as F

    from .functions.local import local_frame
    from .streaming.sessionize import stream_sessionize

    events = _read(spark, sf_dir, "events").select("user_id", "ts")
    bounds = events.agg(
        F.min("ts").alias("min_ts"), F.max("ts").alias("max_ts")
    ).first()
    gap = dt.timedelta(minutes=10)

    work = _work_dir("stream_sessionize_")
    in_dir, out_dir, ckpt = f"{work}/in", f"{work}/out", f"{work}/ckpt"
    # batches MUST be split on TIME (a watermark-ordered ingest), never
    # on a surrogate id: sf1's remix recycles timestamps under fresh
    # event_ids, so an id split makes every batch-2 row late (found by
    # the sf1 sweep — streamed lost exactly the late half)
    t_mid = bounds["min_ts"] + (bounds["max_ts"] - bounds["min_ts"]) / 2
    events.where(F.col("ts") <= F.lit(t_mid)).coalesce(1).write.parquet(
        f"{in_dir}/b1"
    )
    events.where(F.col("ts") > F.lit(t_mid)).coalesce(1).write.parquet(
        f"{in_dir}/b2"
    )
    for i, mult in ((3, 3), (4, 6)):
        local_frame(
            spark, [(-1, bounds["max_ts"] + mult * gap)], "user_id long, ts timestamp"
        ).coalesce(1).write.parquet(f"{in_dir}/b{i}")

    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{in_dir}/*")
    )
    # state-store instances = shuffle partitions; 4 micro-batches x 32
    # stores is pure fixed cost at bench scale — 8 is plenty (the
    # stream's checkpoint pins its own partitioning, so the session
    # conf can be restored immediately after start)
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        query = (
            stream_sessionize(stream, gap="10 minutes")
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
    query.awaitTermination()
    return spark.read.parquet(out_dir).where(F.col("user_id") >= 0)


_register("stream_sessionize", q_stream_sessionize, _SESSION_ORACLE)

# ---------------------------------------------------------------------------
# Range-checksum audit — the anti-entropy / reconciliation primitive
# (how two copies of a 10^12-row table are compared WITHOUT shipping
# rows): per key-range row counts + an order-independent checksum =
# int64 SUM of u32_md5(row fingerprint).  Two snapshots diff by joining
# their tiny audit tables; a mutated/missing/extra row flips exactly
# its range's checksum (planted-mutation test).  Row fingerprints use
# the functions/keys.py injectivity discipline: each column hashed to
# fixed width with an explicit NULL marker before concatenation — no
# concat_ws null-skipping, no width ambiguity.  Money enters as integer
# cents (double→string rendering differs across engines; ints don't).
#
# Scale shape: ONE map-side-combined agg; output rows = #ranges
# (keyspace/4096).  The checksum SUM commutes, so partial aggregation
# is exact and layout-independent — the property that makes the audit
# valid across differently-partitioned copies.
# ---------------------------------------------------------------------------

_AUDIT_RANGE = 4096


def q_range_checksums(spark, sf_dir):
    """(range_id, n_rows, checksum): order-independent per-range audit
    fingerprints of the orders table."""
    from pyspark.sql import functions as F

    from .functions.keys import NULL_MARK
    from .functions.sampling import u32_md5

    orders = _read(spark, sf_dir, "orders")

    def part(col):
        return F.when(col.isNull(), F.lit(NULL_MARK)).otherwise(
            F.md5(col.cast("string"))
        )

    fingerprint = F.concat(
        part(F.col("o_orderkey")),
        part(F.col("o_custkey")),
        part(F.col("o_orderstatus")),
        part(F.round(F.col("o_totalprice") * 100).cast("long")),
        part(F.col("o_orderdate").cast("string")),
        part(F.col("o_orderpriority")),
    )
    return (
        orders.select(
            F.expr(f"o_orderkey div {_AUDIT_RANGE}").alias("range_id"),
            u32_md5(fingerprint).alias("u32"),
        )
        .groupBy("range_id")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum("u32").cast("long").alias("checksum"),
        )
    )


_register(
    "range_checksums",
    q_range_checksums,
    f"""
    WITH fp AS (
        SELECT o_orderkey // {_AUDIT_RANGE} AS range_id,
               ('0x' || substr(md5(
                   coalesce(md5(CAST(o_orderkey AS VARCHAR)), chr(1) || 'null')
                || coalesce(md5(CAST(o_custkey AS VARCHAR)), chr(1) || 'null')
                || coalesce(md5(o_orderstatus), chr(1) || 'null')
                || coalesce(md5(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                                     AS VARCHAR)), chr(1) || 'null')
                || coalesce(md5(CAST(o_orderdate AS VARCHAR)), chr(1) || 'null')
                || coalesce(md5(o_orderpriority), chr(1) || 'null')
               ), 1, 8))::UBIGINT AS u32
        FROM orders
    )
    SELECT CAST(range_id AS BIGINT) AS range_id,
           count(*) AS n_rows,
           CAST(sum(u32) AS BIGINT) AS checksum
    FROM fp GROUP BY range_id
    """,
)
