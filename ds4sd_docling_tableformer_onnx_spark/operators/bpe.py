"""Iterative BPE merge training — the tokenizer-training inner loop.

``queries.bpe_pair_counts`` computes round 0's statistics; this operator
runs the actual loop: count adjacent symbol pairs over the corpus, merge
the argmax pair (count desc, then lexicographic — deterministic
tie-break), recount, k times.  The merge table it emits is the trained
tokenizer prefix.

Scale design (10^12-char corpora):

- each round is ONE corpus pass for pair counts (explode + map-side
  combined groupBy — the same shuffle shape as ``bpe_pair_counts``)
  plus ONE narrow map stage applying the merge (no shuffle);
- the merge itself is a single JVM ``replace`` over a separator-joined
  STRING form of the token stream: each token is wrapped as
  ``SEP tok SEP``, so the literal pattern ``SEP lft SEP SEP rgt SEP``
  matches exactly token-aligned (lft, rgt) adjacencies, and Java's
  left-to-right non-overlapping replace IS the greedy BPE merge rule
  (a run "a a a" wraps to ``SaSSaSSaS``; the first match consumes both
  wrappers, so the overlapping middle position correctly survives).
  The earlier Arrow-batched pandas UDF paid a JVM->Python->JVM round
  trip of the whole token stream per round; the string form keeps all
  k rounds inside whole-stage codegen, and the checkpointed state per
  round is one compact string column instead of an array of per-char
  strings.  ``SEP`` is a non-ASCII sentinel; an in-plan ``raise_error``
  guards the (never-exercised: trainers run on ASCII-filtered shards)
  case of a token containing it;
- the token stream is ``localCheckpoint``-ed every round, truncating
  the otherwise k-deep lineage so round k doesn't re-run rounds 1..k-1
  on every action (same discipline as operators/graph.py label
  propagation; on a cluster swap for ``checkpoint()`` / a staged
  table — the call site is the only change);
- the per-round argmax is a ``limit(1).collect()`` of an aggregated
  1-row frame: driver traffic is k rows total.

Greedy merge semantics (both here and in the DuckDB oracle, which
reconstructs them independently with window functions): scan each
document's token list left to right; at each position where
``(tok[i], tok[i+1])`` equals the merge pair and ``tok[i]`` was not
consumed by the previous merge, replace the two tokens with their
concatenation.  Equivalently: within every maximal run of consecutive
match positions, positions at odd rank merge (a run of length >= 2
requires left == right, where overlapping matches alternate).
"""

from __future__ import annotations


def char_tokens(df):
    """Initial BPE state: ``text`` as a ``toks`` array of single characters.
    ``split`` on the empty pattern adds no trailing empties for
    non-empty input, but maps '' to [''] — the filter normalizes the
    empty document to an empty token list."""
    from pyspark.sql import functions as F

    return df.withColumn("toks", F.filter(F.split(F.col("text"), ""), lambda x: x != ""))


# non-ASCII sentinel separating tokens in the string-form stream (BPE
# trainers run on ASCII-filtered shards, so no token can contain it;
# the conversion raise_error-guards the general case)
_SEP = "\ue000"

# merge rounds between two localCheckpoints of the training stream
CHECKPOINT_EVERY = 8


def _top_pair(stream):
    """The (left, right, count) argmax adjacent pair of the current
    token stream, deterministic tie-break; None on an empty stream."""
    from pyspark.sql import functions as F

    toks = F.col("toks")
    pairs = stream.select(
        F.explode(
            F.when(
                F.size(toks) >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size(toks) - 1),
                    lambda i: F.struct(
                        F.get(toks, i - 1).alias("lft"),
                        F.get(toks, i).alias("rgt"),
                    ),
                ),
            ).otherwise(F.expr("CAST(array() AS ARRAY<STRUCT<lft STRING, rgt STRING>>)"))
        ).alias("p")
    ).select("p.lft", "p.rgt")
    rows = (
        pairs.groupBy("lft", "rgt")
        .agg(F.count("*").cast("long").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("lft").asc(), F.col("rgt").asc())
        .limit(1)
        .collect()
    )
    return rows[0] if rows else None


def _apply_merge_str(stream, str_col: str, left: str, right: str):
    """One merge round over the string-form stream: Java's literal
    left-to-right non-overlapping ``replace`` of the token-aligned
    pattern ``SEP left SEP SEP right SEP`` with ``SEP leftright SEP``
    IS the greedy BPE merge rule (see module docstring) — pure
    whole-stage codegen, no Python boundary."""
    from pyspark.sql import functions as F

    s = _SEP
    return stream.withColumn(
        str_col,
        F.replace(
            F.col(str_col),
            F.lit(f"{s}{left}{s}{s}{right}{s}"),
            F.lit(f"{s}{left}{right}{s}"),
        ),
    )


def bpe_encode(df, merges):
    """Tokenizer APPLY (r4 verdict item 4): encode ``text`` into a
    ``tokens`` column with an already-trained merge table in ONE corpus
    pass.

    Semantics: each document is char-tokenized, then the merges are
    replayed **in training order**, one greedy left-to-right
    non-overlapping pass per merge — exactly the transformation
    :func:`bpe_merge_rounds` applied while training, so
    ``bpe_encode(training_corpus, merges)`` equals the trainer's final
    stream **by construction** (pinned differentially in
    tests/test_operators.py).  This is the original Sennrich (2016)
    apply rule ("apply the learned operations in the order they were
    learned"); it needs no per-document priority queue and its output
    is reproducible by any engine round by round — which is what makes
    the DuckDB oracle (queries.py ``bpe_encode``) value-exact.

    Scale shape (the half of the tokenizer story training doesn't
    cover): ONE Arrow-batched pandas UDF stage, shuffle-free — the plan
    is scan -> project, nothing else.  The merge table travels in the
    UDF closure (~1 MB at a real 32k-merge vocabulary, pickled once per
    python worker — the broadcast-variable analog for python-side
    constants).  Per document a token-SET prefilter skips merges whose
    parts are absent from the current stream (O(1) per skipped merge),
    so cost is O(k + applied_merges * doc_len) rather than the naive
    O(k * doc_len): with 32k merges and ~40 applicable per short doc,
    the scan-everything form would be ~800x more list passes.

    ``merges``: ordered list of trainer dicts (``{"lft", "rgt", ...}``)
    or plain ``(lft, rgt)`` pairs.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    pairs = [
        (m["lft"], m["rgt"]) if isinstance(m, dict) else (m[0], m[1])
        for m in merges
    ]

    @pandas_udf("array<string>")
    def _encode(texts):
        import pandas as pd

        out = []
        for text in texts:
            if text is None:
                out.append(None)
                continue
            toks = list(text)
            present = set(toks)
            for lft, rgt in pairs:
                if lft not in present or rgt not in present:
                    continue
                res = []
                i, n, matched = 0, len(toks), False
                while i < n:
                    if i + 1 < n and toks[i] == lft and toks[i + 1] == rgt:
                        res.append(lft + rgt)
                        i += 2
                        matched = True
                    else:
                        res.append(toks[i])
                        i += 1
                if matched:
                    toks = res
                    present = set(toks)
            out.append(toks)
        return pd.Series(out)

    return df.withColumn("tokens", _encode(F.col("text")))


def bpe_merge_rounds(df, rounds: int = 5):
    """Run ``rounds`` BPE merge rounds over the ``toks`` array column.

    Returns ``(merges, final_stream)`` where ``merges`` is the ordered
    list of dicts ``{merge_round, lft, rgt, merged, cnt}`` (the trained
    merge table) and ``final_stream`` the post-merge token frame.
    Stops early if the corpus runs out of pairs.

    ``CHECKPOINT_EVERY``: a pending round is one literal JVM string
    replace, so short replay chains are cheaper to recompute than to
    materialize — the stream is ``localCheckpoint``-ed only every N
    rounds, bounding lineage depth (and replay cost) at N replaces
    while skipping ~N-1 materialization jobs per window.  The pandas-
    UDF-era per-round checkpoint existed because replaying Python
    merges was expensive; the string form isn't.
    """
    from pyspark.sql import functions as F

    s = _SEP
    toks = F.col("toks")
    # string form: every token wrapped SEP tok SEP (adjacent wrappers
    # back to back), with an in-plan guard against SEP inside a token
    as_str = (
        F.when(toks.isNull(), F.lit(None).cast("string"))
        .when(
            F.exists(toks, lambda x: x.contains(s)),
            F.raise_error(
                F.lit("bpe_merge_rounds: token contains the reserved separator U+E000")
            ),
        )
        .when(F.size(toks) == 0, F.lit(""))
        .otherwise(F.concat(F.lit(s), F.concat_ws(s + s, toks), F.lit(s)))
    )
    stream = df.withColumn("_bpe_str", as_str).drop("toks").localCheckpoint()

    merges = []
    for r in range(1, rounds + 1):
        top = _top_pair(
            stream.withColumn(
                "toks", F.filter(F.split(F.col("_bpe_str"), s), lambda x: x != "")
            )
        )
        if top is None or top["cnt"] == 0:
            break
        merges.append(
            {
                "merge_round": r,
                "lft": top["lft"],
                "rgt": top["rgt"],
                "merged": top["lft"] + top["rgt"],
                "cnt": top["cnt"],
            }
        )
        stream = _apply_merge_str(stream, "_bpe_str", top["lft"], top["rgt"])
        if r % CHECKPOINT_EVERY == 0:
            # truncate lineage every N rounds (see CHECKPOINT_EVERY)
            stream = stream.localCheckpoint()
    final = stream.withColumn(
        "toks", F.filter(F.split(F.col("_bpe_str"), s), lambda x: x != "")
    ).drop("_bpe_str")
    return merges, final
