"""Engine constants and canonical serialization helpers.

The tag vocabulary mirrors the reference model config
(``results/tableformer_config_fast_hash.json`` -> ``dataset_wordmap``):
13 tokens, ids 0-12.  Canonical JSON (sorted keys, compact separators)
plus SHA-256 is the reference's payload-equality contract
(``scripts/export_tableformer_cell_matching.py:44-46``).
"""

from __future__ import annotations

import hashlib
import json

WORD_MAP_TAG = {
    "<pad>": 0,
    "<unk>": 1,
    "<start>": 2,
    "<end>": 3,
    "ecel": 4,
    "fcel": 5,
    "lcel": 6,
    "ucel": 7,
    "xcel": 8,
    "nl": 9,
    "ched": 10,
    "rhed": 11,
    "srow": 12,
}
TAG_BY_ID = {v: k for k, v in WORD_MAP_TAG.items()}

# the decoder's step limit (reference tm_config predict.max_steps)
MAX_STEPS = 1024


def decode_tag_sequence(tag_seq):
    """Map tag ids to tag strings, dropping the <start>/<end> sentinels
    (reference P9, tf_predictor.py:1024-1032)."""
    return [TAG_BY_ID[i] for i in tag_seq[1:-1]]


def canonical_json(obj) -> str:
    """Reference-canonical JSON: sorted keys, compact separators."""
    return json.dumps(obj, sort_keys=True, separators=(",", ":"))


def sha256_canonical(obj) -> str:
    """SHA-256 hex digest of the canonical JSON of ``obj``."""
    return hashlib.sha256(canonical_json(obj).encode("utf-8")).hexdigest()
