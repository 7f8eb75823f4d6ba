"""Caller-owned lifecycle for operator-internal persisted frames.

Several operators persist an intermediate so one materialization feeds
multiple downstream consumers (the simhash and MinHash band tables
feeding both sides of the band join, the distinct-payload table
feeding both the broadcast-decision count and the extraction pass).  ``persist()`` pins executor storage until
``unpersist()`` — in a long-lived driver (oracle sweeps, bench visits,
notebook sessions) operators that never release would accumulate cached
blocks until session end.

Contract: an operator that persists an intermediate attaches it to the
DataFrame it RETURNS via :func:`adopt`; the caller releases it with
:func:`release` after the terminal action.  The attachment lives on the
returned Python object only — further transformations produce new
DataFrames without it, so release the exact frame the operator handed
back (our harnesses — bench.py, scripts/check_oracles.py, tests — do).
Unreleased frames are not a correctness problem, only a storage one,
and Spark evicts LRU under pressure; at corpus scale these
intermediates become materialized (bucketed) tables anyway, where the
lifecycle is the table's, not the session's.
"""

from __future__ import annotations

_ATTR = "_graft_cached"


def adopt(result_df, *cached_frames):
    """Attach operator-internal persisted frames to the returned frame
    (appending to any already adopted, e.g. through nested operators)."""
    existing = list(getattr(result_df, _ATTR, []))
    setattr(result_df, _ATTR, existing + list(cached_frames))
    return result_df


def cached_inputs(df):
    """The persisted intermediates a returned frame owns (possibly [])."""
    return list(getattr(df, _ATTR, []))


def release(df, blocking: bool = False):
    """Unpersist every intermediate the frame owns.  Safe to call on
    frames that own nothing; safe to call twice.  Returns ``df``."""
    for frame in cached_inputs(df):
        try:
            frame.unpersist(blocking)
        except Exception:
            pass  # session already stopped — nothing to release
    setattr(df, _ATTR, [])
    return df
