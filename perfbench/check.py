"""Offline correctness checks of the workloads' outputs.

Each check returns the number of failed input rows; the benchmark sums
them into ``failed``.  Extraction rows are checked against the
fixture-derived expectations of ``inputs.expected_by_payload``; curation
output against invariants recomputed here from the output itself.
"""

from __future__ import annotations

import hashlib
from collections import Counter

import pyarrow as pa

CHECKED_FIELDS = ("num_rows", "num_cols", "n_cells", "n_matches")


def _sha(text) -> str | None:
    return None if text is None else hashlib.sha256(text.encode("utf-8")).hexdigest()


def extraction_failures(out: pa.Table, input_keys: dict, expected: dict) -> int:
    """Failed input rows of an extraction.

    ``input_keys`` maps ``(conv_id, turn_idx)`` of every input turn to its
    payload id.  A turn fails when its output row is missing, duplicated,
    an error row, or differs from its payload's expectation in the HTML
    digest, the response digest (when ``tf_responses_json`` is present)
    or any of ``CHECKED_FIELDS``.  Output rows for keys not in the input
    count as failures too."""
    cols = out.to_pydict()
    has_tf = "tf_responses_json" in cols
    seen = Counter()
    bad = set()
    extra = 0
    for i, key in enumerate(zip(cols["conv_id"], cols["turn_idx"])):
        payload_id = input_keys.get(key)
        if payload_id is None:
            extra += 1
            continue
        seen[key] += 1
        exp = expected[payload_id]
        if (
            not cols["ok"][i]
            or cols["payload_id"][i] != payload_id
            or cols["html_sha256"][i] != exp["html_sha256"]
            or any(cols[f][i] != exp[f] for f in CHECKED_FIELDS)
            or (has_tf and _sha(cols["tf_responses_json"][i]) != exp["tf_sha256"])
        ):
            bad.add(key)
    duplicated = {k for k, n in seen.items() if n > 1}
    missing = len(input_keys) - len(seen)
    return extra + missing + len(bad | duplicated)


def duplicate_checkpoint_keys(ckpt: pa.Table) -> int:
    """Rows of a checkpoint whose (conv_id, turn_idx, payload_sha256) key
    another row already holds."""
    keys = Counter(
        zip(
            ckpt.column("conv_id").to_pylist(),
            ckpt.column("turn_idx").to_pylist(),
            ckpt.column("payload_sha256").to_pylist(),
        )
    )
    return sum(n - 1 for n in keys.values())


def resume_failures(
    n_input: int, expected_skipped: int, skipped: int, n_new: int, duplicates: int
) -> int:
    """Accounting of a resumed run: every skipped turn the checkpoint did
    not hold, every turn neither skipped nor new, and every duplicated
    checkpoint key fails."""
    return abs(skipped - expected_skipped) + abs(n_input - skipped - n_new) + duplicates


def verify_failures(counts: dict, n_input: int) -> int:
    """The verify workload's reduced counts: every row that is missing,
    duplicated, or not HTML-equal to its fixture fails."""
    return (
        abs(counts["n"] - n_input)
        + abs(counts["distinct_turns"] - n_input)
        + (counts["n"] - counts["html_matched"])
        + counts["field_mismatches"]
    )


def curation_failures(out: pa.Table, stats: dict, docs: pa.Table, max_seq_len: int) -> int:
    """Curated output against invariants recomputed from it.

    Row checks: the doc id exists in the input, once; its source and
    language are the input's; it is its near-dup group's canonical (min)
    id; its token count is positive and no larger than the input text's;
    its packing slot (start_seq, offset_in_seq, spans) equals the one the
    exact prefix sum over the preceding doc ids gives.  Aggregate checks:
    the reported survivor count and total tokens equal the output's."""
    rows = sorted(out.to_pylist(), key=lambda r: r["doc_id"])
    source = dict(zip(docs.column("doc_id").to_pylist(), docs.column("source").to_pylist()))
    lang = dict(zip(docs.column("doc_id").to_pylist(), docs.column("lang").to_pylist()))
    n_words = {
        d: len(t.split(" "))
        for d, t in zip(docs.column("doc_id").to_pylist(), docs.column("text").to_pylist())
    }
    failed = 0
    before = 0
    seen = set()
    for r in rows:
        d, n = r["doc_id"], r["n_tokens"]
        start, offset = divmod(before, max_seq_len)
        spans = (before + n - 1) // max_seq_len - start + 1
        if (
            d not in source
            or d in seen
            or r["source"] != source[d]
            or r["lang"] != lang[d]
            or r["group_id"] != d
            or not 0 < n <= n_words[d]
            or (r["start_seq"], r["offset_in_seq"], r["spans"]) != (start, offset, spans)
        ):
            failed += 1
        seen.add(d)
        before += n
    failed += abs(stats["survivors_sampled"] - len(rows))
    failed += stats["total_tokens"] != before
    return failed
