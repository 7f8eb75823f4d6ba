"""Deduplication operators for training-data pipelines.

Scale notes (100 TB):
- exact dedup and MinHash-LSH are pure DataFrame plans (see
  ``queries.py`` for the oracle-checked versions): digest group-by is
  one shuffle on the hash; LSH bucketing turns the quadratic candidate
  problem into an equi-join on band keys — both AQE-skew-safe.
- SimHash needs per-row bit arithmetic over token hashes; it runs as an
  Arrow-batched pandas UDF (vectorized numpy inside, no per-row Python
  in the plan).
- Banded candidates have one definition here: ``band_layout``
  posexplodes a signature's bands into ``(band, key)`` rows and
  ``band_pairs`` is the single self-equi-join that emits each pair from
  the lowest band it shares.  ``simhash_candidates``, the MinHash query
  and the streaming near-dup operator (``streaming/neardup.py``) all
  use this layout.
"""

from __future__ import annotations

# SimHash LSH layout: the 64-bit signature cut into N_BANDS bands of
# BAND_BITS bits.  Two signatures within hamming distance
# N_BANDS - 1 agree on at least one band.
BAND_BITS = 16
N_BANDS = 4
BAND_MASK = (1 << BAND_BITS) - 1

# bloom prefilter sizing: ~0.8% false positives at 7 hashes, 10 bits/key
BLOOM_N_HASHES = 7
BLOOM_BITS_PER_KEY = 10


def simhash_column(df):
    """Add a ``simhash`` long column: weighted-bit signature over word
    hashes (md5-derived), Arrow-batched.

    Near-dup candidates are rows whose signatures differ in few bits;
    ``simhash_candidates`` pairs them through the ``simhash_bands``
    layout (same LSH shape as MinHash banding).

    Tokenization is EXPLICITLY the class ``[\\t\\n\\f\\r ]+`` — RE2's
    ``\\s`` spelled out — NOT Python ``\\s``: the signature is part of
    the engine-replicable hash discipline (CLAUDE.md), and this is the
    one split both Spark and the DuckDB oracle's RE2
    ``string_split_regex(.., '\\s+')`` express identically on ANY
    corpus.  Python ``re.ASCII \\s`` additionally includes ``\\x0b``
    (vertical tab), which RE2 does not treat as whitespace (r4 advice
    low #1); Python ``str.split()`` Unicode semantics (NBSP, ``\\x85``,
    ``\\x0b``, ``\\x1c``-``\\x1f``) diverge further — rows carrying any
    of those take the pinned-regex path.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _simhash(texts):
        import hashlib
        import re

        import numpy as np
        import pandas as pd

        # RE2's \s as an explicit class: unlike Python re.ASCII \s it
        # excludes \x0b, so the oracle's string_split_regex replicates
        # the split exactly (r4 advice low #1)
        ws = re.compile(r"[\t\n\f\r ]+")

        # Vectorized per Arrow batch: one md5 per *unique word in the
        # batch* (the only unavoidable Python loop), then pure numpy —
        # a (distinct word, row) index pair list, a 64-wide bit matrix
        # from the word hashes, +/-1 contributions summed per (row, bit)
        # with np.add.at, and a single packbits-style reduction.  ~64x
        # less Python bytecode than the per-word/per-bit loop it
        # replaces; signatures are bit-identical (regression-pinned).
        out = np.zeros(len(texts), dtype=np.uint64)
        row_idx: list[int] = []
        words: list[str] = []
        for i, text in enumerate(texts):
            if not text:
                continue
            # fast path: on pure-ASCII text, C-level str.split() IS the
            # [\t\n\f\r ]+ split (measured ~2x the regex's tokenize
            # cost) EXCEPT for \x0b and \x1c-\x1f, which str.split
            # treats as whitespace and RE2 \s does not; rows carrying
            # those (or any non-ASCII) take the regex that pins the
            # semantics
            if (
                text.isascii()
                and "\x0b" not in text
                and "\x1c" not in text
                and "\x1d" not in text
                and "\x1e" not in text
                and "\x1f" not in text
            ):
                uniq = set(text.split())
            else:
                uniq = set(ws.split(text)) - {""}
            if not uniq:
                continue
            row_idx.extend([i] * len(uniq))
            words.extend(uniq)
        if words:
            vocab: dict[str, int] = {}
            hashes: list[int] = []
            word_id = np.empty(len(words), dtype=np.int64)
            for j, word in enumerate(words):
                wid = vocab.get(word)
                if wid is None:
                    wid = len(vocab)
                    vocab[word] = wid
                    digest = hashlib.md5(word.encode("utf-8")).digest()
                    hashes.append(int.from_bytes(digest[:8], "big"))
                word_id[j] = wid
            hvals = np.array(hashes, dtype=np.uint64)
            # (n_unique, 64) in {-1, +1}
            bit_mat = (
                ((hvals[:, None] >> np.arange(64, dtype=np.uint64)) & 1)
                .astype(np.int64)
                * 2
                - 1
            )
            acc = np.zeros((len(texts), 64), dtype=np.int64)
            np.add.at(acc, np.asarray(row_idx, dtype=np.int64), bit_mat[word_id])
            # empty rows have an all-zero acc row -> sig 0, same as before
            out = ((acc > 0).astype(np.uint64) << np.arange(64, dtype=np.uint64)).sum(
                axis=1, dtype=np.uint64
            )
        return pd.Series(out.view(np.int64))  # fold into signed 64-bit

    return df.withColumn("simhash", _simhash(F.col("text")))


def simhash_bands(sig):
    """The ``N_BANDS`` x ``BAND_BITS`` band keys of a 64-bit signature
    column, band 0 in the lowest bits, as an array column.

    bitwiseAND, not %: a signed remainder would send negative
    signatures' band 0 to a negative key, splitting buckets across the
    sign boundary and breaking the hamming <= 3 pigeonhole guarantee."""
    from pyspark.sql import functions as F

    return F.array(
        *[
            F.shiftrightunsigned(sig, BAND_BITS * i).bitwiseAND(F.lit(BAND_MASK))
            for i in range(N_BANDS)
        ]
    )


def band_layout(df, bands, *cols):
    """One row per band of each row of ``df``: ``(*cols, bands, band,
    key)``, where ``bands`` is the array column of band keys and
    ``band`` the 0-based position of ``key`` in it.  The batch band
    join and the streaming bucket state both key on ``(band, key)``."""
    from pyspark.sql import functions as F

    return df.select(*cols, bands.alias("bands")).select(
        "*", F.posexplode("bands").alias("band", "key")
    )


def band_pairs(layout, id_col: str):
    """Candidate pairs of a ``band_layout`` table, aliased ``a``/``b``:
    ONE self-equi-join on ``(band, key)`` with ``a.id < b.id``, keeping
    a pair only on the LOWEST band the two share.  Each candidate pair
    is therefore emitted exactly once, with no dedup shuffle over the
    (quadratic) pair output; the join shuffles only the band table,
    which AQE broadcast-converts when small."""
    from pyspark.sql import functions as F

    a, b = layout.alias("a"), layout.alias("b")
    # 1-based position of the first band whose keys are equal
    first_shared = F.array_position(
        F.zip_with(F.col("a.bands"), F.col("b.bands"), lambda x, y: x == y), True
    )
    return a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.key") == F.col("b.key"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        & (first_shared == F.col("a.band") + 1),
    )


def simhash_candidates(df, id_col: str = "doc_id"):
    """Candidate near-dup pairs ``(id_a, id_b, hamming)``: docs sharing
    any 16-bit band of the simhash (finds all pairs within hamming
    distance 3 of a 64-bit signature, by pigeonhole), through
    ``band_pairs``.

    The band table is checkpointed before the self-join: without it both
    join sides re-run the signature UDF.  At 10^12-doc scale the same
    move is writing signatures to a (bucketed) table once — ~20 B/doc —
    and band-joining the materialized table; a lazy local checkpoint is
    the in-plan analog at bench scale."""
    from pyspark.sql import functions as F

    layout = band_layout(
        df, simhash_bands("simhash"), id_col, "simhash"
    ).localCheckpoint(eager=False)
    return band_pairs(layout, id_col).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
        .cast("long")
        .alias("hamming"),
    )


def bloom_key_positions(key_col, m: int):
    """Array column of ``BLOOM_N_HASHES`` bloom bit positions for a key:
    position_j = u32(md5(j || '#' || key)) mod m.

    Hash-derived (md5, not an RNG or an engine-private hash) for the
    same reason as the LSH planes: any engine — the DuckDB oracle, a
    JVM rewrite — reproduces the exact positions from the expression
    alone.  Spark's native BloomFilterAggregate is not exposed to SQL/
    PySpark (internal runtime-filter expression only), and its
    murmur3 layout would make the filter engine-private; this keeps the
    operator value-checkable.  u32 positions bound ``m`` at 2^32 bits
    (~400M keys/shard at 10 bits/key) — shard the corpus (the intended
    deployment anyway) or widen to two hash words beyond that."""
    from pyspark.sql import functions as F

    return F.transform(
        F.sequence(F.lit(0), F.lit(BLOOM_N_HASHES - 1)),
        lambda j: F.pmod(
            F.conv(
                F.substring(F.md5(F.concat(j.cast("string"), F.lit("#"), key_col)), 1, 8),
                16,
                10,
            ).cast("long"),
            F.lit(m),
        ),
    )


def bloom_prefilter(
    build_df,
    probe_df,
    key_col: str = "text",
):
    """Cross-shard exact-dedup prefilter: a bloom filter built over one
    corpus slice's keys, probed by another — the cheap pre-join that
    lets 100-TB exact dedup skip the full shuffle for the (vast)
    majority of rows that cannot be duplicates.

    Returns ``probe_df`` plus a ``maybe_dup`` boolean.  Bloom
    guarantees: no false negatives (every true duplicate is flagged);
    false-positive rate ~ (1 - e^(-k/b))^k — ~0.8% at k=7 hashes,
    b=10 bits/key.  Only ``maybe_dup`` rows proceed to the
    exact anti-join; the rest short-circuit.

    Implementation is the *relational* form of the bitmap: the filter
    is the DISTINCT set of build-side bit positions (``m`` rows max,
    here m = BLOOM_BITS_PER_KEY * n_build), and a probe key "might be
    contained" iff ALL its ``BLOOM_N_HASHES`` positions hit that set — a
    semi-join + count instead of testing a byte-array literal.
    Identical membership semantics (the set IS the bitmap's set bits),
    same FPR math, and exactly one shuffle on 8-byte position keys.
    At deployment scale the position set for a 10^8-key shard is ~10^9
    longs — materialize it once per shard and broadcast-join probes
    against it (AQE does this automatically below the broadcast
    threshold); beyond that the equi-join form here is already the
    shuffle-minimal plan."""
    from pyspark.sql import functions as F

    n_build = build_df.count()
    m = max(64, n_build * BLOOM_BITS_PER_KEY)

    build_positions = (
        build_df.select(
            F.explode(bloom_key_positions(F.col(key_col), m)).alias("pos")
        )
        .distinct()
    )
    # Membership is a property of the KEY, so it is computed once per
    # DISTINCT key and joined back — never grouped by the probe row's
    # value tuple (that collapsed duplicate probe ROWS into one group,
    # doubling the hit count and silently clearing maybe_dup for true
    # duplicates: a false NEGATIVE, the one failure class a bloom
    # filter must never have).  Also cheaper: the position explode and
    # the semi-join run over distinct keys, not rows.
    key_positions = (
        probe_df.select(key_col)
        .distinct()
        .select(
            key_col,
            F.explode(bloom_key_positions(F.col(key_col), m)).alias("pos"),
        )
    )
    key_hits = (
        key_positions.join(build_positions, "pos", "left_semi")
        .groupBy(key_col)
        .agg((F.count("*") == BLOOM_N_HASHES).alias("maybe_dup"))
    )
    return probe_df.join(key_hits, key_col, "left").withColumn(
        "maybe_dup", F.coalesce(F.col("maybe_dup"), F.lit(False))
    )


def winnow_fingerprints(
    df,
    *,
    k: int = 4,
    w: int = 4,
):
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken
    2003 — the MOSS algorithm): hash every word ``k``-gram, slide a
    window of ``w`` consecutive gram hashes, keep each window's
    minimum (RIGHTMOST occurrence on ties), and emit the distinct
    ``(id, pos, fp)`` selections.  Guarantee: two documents sharing
    any run of >= w + k - 1 words share at least one fingerprint —
    the local-dedup/plagiarism primitive between exact hashing (too
    brittle) and minhash (no positions).

    Scale shape: the WHOLE computation is per-row array expressions —
    split -> gram slices -> md5-derived 60-bit hashes -> windowed
    rightmost-argmin -> array_distinct -> explode.  No shuffle, no
    UDF, nothing leaves the row until the final narrow explode; the
    plan is a single WholeStageCodegen scan like the chunker's.

    The gram hash is the first 15 hex digits of md5 (60 bits, always
    positive in a signed 64-bit lane) — NOT xxhash64 — so the DuckDB
    oracle derives bit-identical values (the functions/sampling.u32_md5
    discipline, widened to 60 bits for gram-collision headroom).
    """
    from pyspark.sql import functions as F

    ws = F.split(F.col("text"), " ", -1)
    # docs shorter than one full window cannot emit a fingerprint
    base = df.where(
        F.col("text").isNotNull() & (F.size(ws) >= k + w - 1)
    ).select("doc_id", ws.alias("ws"))

    gram_hash = lambda i: F.conv(  # noqa: E731 — readability inside transform
        F.substring(F.md5(F.concat_ws(" ", F.slice(F.col("ws"), i, k))), 1, 15),
        16,
        10,
    ).cast("long")
    hashed = base.select(
        "doc_id",
        F.transform(
            F.sequence(F.lit(1), F.size("ws") - (k - 1)), gram_hash
        ).alias("h"),
    )
    win = lambda i: F.slice(F.col("h"), i, w)  # noqa: E731
    sel = F.transform(
        F.sequence(F.lit(1), F.size("h") - (w - 1)),
        lambda i: F.struct(
            # rightmost min: first position in the REVERSED window
            (i + w - F.array_position(F.reverse(win(i)), F.array_min(win(i))))
            .cast("long")
            .alias("pos"),
            F.array_min(win(i)).alias("fp"),
        ),
    )
    return (
        hashed.select("doc_id", F.explode(F.array_distinct(sel)).alias("s"))
        .select("doc_id", F.col("s.pos").alias("pos"), F.col("s.fp").alias("fp"))
    )
