"""fastText-style hashed linear quality classifier (r4 verdict item 7)
— the one standard curation signal the stack was missing.

The model is a linear scorer over md5-hashed bag-of-words features
(the DSIR bucket discipline: ``functions/sampling.u32_md5`` buckets,
integer-quantized weights), trained as naive-Bayes log-odds from a
weakly-labeled corpus slice — the CCNet/fastText recipe where the
"labels" are cheap heuristics (here: the C4/Gopher rule battery,
``functions/rules.keep_all``) and the classifier generalizes the
signal to documents the rules were never run on.

Engine parity (what makes the DuckDB oracle exact):
- feature bucket = ``u32(md5(word)) % B`` — hash-derived, never RNG;
- per-bucket weight = ``half_away(1e6 * (ln((good_b+1)*(bad_tot+B))
  - ln((bad_b+1)*(good_tot+B))))`` — an INTEGER, so the per-document
  score is an exact integer sum immune to float summation order
  (``ln`` runs on exact integer-valued doubles < 2^53 in both
  engines, the DSIR argument);
- prediction = ``score > 0`` — an integer comparison, no float ever
  reaches the value hash.

Scale shape (10^12 docs):
- training is TWO map-side-combined aggregations down to <= 2*B rows
  collected driver-side (B=1024 default — the bounded IVF-centroid /
  DSIR-bucket collect pattern);
- scoring is a SHUFFLE-FREE narrow map: the weight table ships as one
  array literal (broadcast variable at fleet scale) and the score is
  ``transform + element_at + aggregate`` — whole-stage codegen, no
  UDF, no join, no shuffle.
"""

from __future__ import annotations

import json


def train_quality_weights(docs, n_buckets: int = 1024) -> list[int]:
    """Integer log-odds weight per hash bucket of ``text``'s words,
    trained from boolean ``label``.  Driver traffic is bounded by
    2*``n_buckets`` rows regardless of corpus size."""
    import math

    from pyspark.sql import functions as F

    from ..functions.sampling import half_away, u32_md5

    words = docs.where(F.col("text").isNotNull()).select(
        F.col("label").alias("_lbl"),
        F.explode(F.split("text", " ", -1)).alias("w"),
    )
    rows = (
        words.groupBy("_lbl", (u32_md5(F.col("w")) % n_buckets).alias("b"))
        .agg(F.count("*").alias("c"))
        .collect()
    )
    good: dict[int, int] = {}
    bad: dict[int, int] = {}
    for r in rows:
        (good if r["_lbl"] else bad)[int(r["b"])] = int(r["c"])
    g_tot, b_tot = sum(good.values()), sum(bad.values())
    return [
        half_away(
            (
                math.log((good.get(b, 0) + 1) * (b_tot + n_buckets))
                - math.log((bad.get(b, 0) + 1) * (g_tot + n_buckets))
            )
            * 1_000_000
        )
        for b in range(n_buckets)
    ]


def quality_scores(docs, weights: list[int]):
    """Add ``(n_words, q_score)`` columns: the integer sum of bucket
    weights over the words of ``text`` — one shuffle-free codegen pass,
    the DSIR scoring shape."""
    from pyspark.sql import functions as F

    from ..functions.sampling import u32_md5

    n_buckets = len(weights)
    # one JSON string literal, which Spark folds into the same array
    # literal: F.lit(list) makes one py4j call per weight (0.4-0.6 s for
    # 1,024 weights on a 4-core local session)
    weight_arr = F.from_json(F.lit(json.dumps(weights)), "array<bigint>")
    ws = F.split("text", " ", -1)
    score = F.aggregate(
        F.transform(
            ws,
            lambda w: F.element_at(
                weight_arr, ((u32_md5(w) % n_buckets) + 1).cast("int")
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return docs.withColumn("n_words", F.size(ws).cast("long")).withColumn("q_score", score)
