"""Offline parity lock for the per-turn extraction core.

The reference differentials (tests/test_response_differential.py) skip
when the reference predictor is not importable.  This test never
skips: it runs ``core.pipeline.extract_turn`` over the same randomized
full-chain payloads for 10,000 seeds and pins a SHA-256 over the
canonical outputs, so any change to the extraction output shows up on
every run.  Only a change that alters the extraction result on purpose
may change the literals.
"""

import hashlib
import random

import pytest

from ds4sd_docling_tableformer_onnx_spark.config import canonical_json
from ds4sd_docling_tableformer_onnx_spark.core.pipeline import extract_turn

from .test_response_differential import _random_grid_payload

SEEDS = 10_000
EXPECTED = {
    False: "b7560389386fbca1e3f96d31beadd188a96e519dcb45ab7d70ff89bd58e7cf9b",
    True: "3d8eb6ca475d36ed6a7fbf4c69ad4e4c06af45f4228ae7a904c15342f03139fd",
}


def _outputs_digest(correct_overlapping_cells):
    """SHA-256 over one line per seed: the canonical JSON of the full
    extract_turn output."""
    digest = hashlib.sha256()
    for seed in range(SEEDS):
        payload = _random_grid_payload(random.Random(seed))
        out = extract_turn(payload, correct_overlapping_cells=correct_overlapping_cells)
        digest.update(f"{seed}\t{canonical_json(out)}\n".encode("utf-8"))
    return digest.hexdigest()


@pytest.mark.parametrize("correct_overlapping_cells", [False, True])
def test_extract_turn_outputs_locked(correct_overlapping_cells):
    assert _outputs_digest(correct_overlapping_cells) == EXPECTED[correct_overlapping_cells]
