"""The ONE payload key, shared by every consumer.

A (text, tool) payload is identified by a single injective SHA-256 key
used by all three places that must agree:

- the extraction worker's lineage column (operators/extract.py,
  Python side inside the Arrow batch);
- the checkpoint resume anti-join (plans/checkpoint.py, JVM side);
- the checkpoint table's stored ``payload_sha256``.

Why not ``sha2(concat_ws("\\x00", text, tool))``: ``concat_ws`` SKIPS
null parts, so ``(text='a\\x00b', tool=NULL)`` collides with
``(text='a', tool='b')`` and NULL is indistinguishable from ``''``.  On
the resume path that collision mis-skips a changed payload.  Hashing
each part separately to a fixed width with an explicit null marker
makes the key injective over (text, tool) pairs:

    key = sha256( part(text) || part(tool) )
    part(v) = "\\x01null" if v IS NULL else hex(sha256(utf8(v)))

``part`` is fixed-width (64 hex chars) for non-null values and the
null marker can never be a prefix ambiguity (it is 5 chars and not hex),
so the concatenation is unambiguous.

Re-keying note: checkpoints written before this key (the concat_ws
form, rounds 1-2) no longer match — their turns re-run once on the
first resume and append under the new key.  Readers that group by
``(conv_id, turn_idx)`` are unaffected; the old rows can be vacuumed.
"""

from __future__ import annotations

import hashlib

NULL_MARK = "\x01null"


def payload_key_col(text_col: str = "text", tool_col: str = "tool"):
    """JVM-side injective payload key expression (lowercase hex, like
    ``sha2``)."""
    from pyspark.sql import functions as F

    def _part(col):
        return F.when(F.col(col).isNull(), F.lit(NULL_MARK)).otherwise(
            F.sha2(F.col(col), 256)
        )

    return F.sha2(F.concat(_part(text_col), _part(tool_col)), 256)


def payload_key_py(text: str | None, tool: str | None) -> str:
    """Python-side twin of :func:`payload_key_col` — byte-identical
    output (tests pin the equality on null/collision corpora)."""

    def _part(v):
        return NULL_MARK if v is None else hashlib.sha256(v.encode("utf-8")).hexdigest()

    return hashlib.sha256((_part(text) + _part(tool)).encode("utf-8")).hexdigest()
