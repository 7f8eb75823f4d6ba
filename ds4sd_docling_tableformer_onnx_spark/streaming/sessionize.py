"""Streaming event-time sessionization — the third stateful operator
(beside neardup candidates and keep-first exact dedup): per-user
sessions with a fixed inactivity gap, closed EXACTLY like the batch
``session_window`` aggregation (queries.py session_window_counts), so
the streamed union equals the batch result row-for-row — a FULL value
oracle, reusing the batch query's independently-derived SQL.

Semantics (identical to Spark's half-open session_window):
- an event < gap after its predecessor extends the session;
- an event exactly gap (or more) after it starts a NEW session;
- session_end = last event + gap.

State is ONE open session per user ``(start, last, n)`` in epoch
micros.  Sessions close two ways, both emitting the same row:
- in-batch gap break: the fold sees the next event >= gap later and
  emits immediately (no waiting on watermarks for historical gaps);
- event-time timeout: when the stream's watermark passes
  ``last + gap`` the state times out and the open session flushes.

Out-of-order handling, precisely:
- within a micro-batch: sorted, exact;
- strictly-late rows (ts < watermark — Spark's own late definition;
  applyInPandasWithState delivers rather than filters them) are
  DROPPED here, explicitly;
- ON-TIME cross-batch disorder (possible only with a nonzero
  watermark delay): an event within gap of the open session merges
  and extends the session START backwards (never rewinds the end),
  matching batch semantics; an on-time event >= gap older than the
  open session emits as its own immediate session — exact vs batch
  unless a later arrival lands between it and the open session, the
  one residual of not buffering a full watermark-delay window.  With
  time-split batches or delay=0 (this repo's harnesses) the residual
  branch cannot fire and streamed == batch exactly.
A timeout target the watermark has already passed (stale user) is
clamped to watermark+1ms — the emitted row is unchanged because its
content comes from state, not from when the flush fires.

Scale shape: one shuffle on user_id (the conversation key the
extraction pipeline already partitions by), state bounded by OPEN
sessions (not history), RocksDB swap via the two state-store conf
keys streaming/exactdedup.py's docstring names.
"""

from __future__ import annotations

STATE_SCHEMA = "start long, last long, n long"
OUTPUT_SCHEMA = (
    "user_id long, session_start string, session_end string, n_events long"
)

_TS_FMT = "%Y-%m-%d %H:%M:%S.%f"


def _make_sessionizer(gap_us: int):
    def _sessionize(key, pdfs, state):
        import datetime as dt

        import pandas as pd

        def _row(start_us, last_us, n):
            start = dt.datetime(1970, 1, 1) + dt.timedelta(
                microseconds=start_us
            )
            end = dt.datetime(1970, 1, 1) + dt.timedelta(
                microseconds=last_us + gap_us
            )
            return {
                "user_id": key[0],
                "session_start": start.strftime(_TS_FMT),
                "session_end": end.strftime(_TS_FMT),
                "n_events": n,
            }

        closed = []
        if state.hasTimedOut:
            start_us, last_us, n = state.get
            closed.append(_row(start_us, last_us, n))
            state.remove()
            yield pd.DataFrame(closed)
            return

        rows = pd.concat(list(pdfs), ignore_index=True)
        # applyInPandasWithState does NOT filter late rows: events
        # strictly behind the watermark would rewind the open session
        # and desync the fold from batch session_window semantics.
        # Standard watermark semantics (Spark's own late definition is
        # ts < watermark, strictly): drop them here, explicitly; a row
        # exactly AT the watermark is on time and kept.
        wm_us = state.getCurrentWatermarkMs() * 1000
        ts = sorted(
            t
            for t in (
                int(v)
                for v in rows["ts"].astype("datetime64[us]").astype("int64")
            )
            if t >= wm_us
        )
        if state.exists:
            start_us, last_us, n = state.get
        else:
            start_us = last_us = n = 0  # n == 0 -> fold opens on first event
        for t in ts:
            if n == 0:
                start_us, last_us, n = t, t, 1
            elif t >= last_us:
                # in-order (the common case)
                if t - last_us < gap_us:
                    last_us, n = t, n + 1
                else:
                    closed.append(_row(start_us, last_us, n))
                    start_us, last_us, n = t, t, 1
            elif start_us - t < gap_us:
                # ON-TIME cross-batch disorder (possible whenever the
                # watermark delay is nonzero) within gap of the open
                # session's span: batch semantics merge it AND extend
                # the start backwards — never rewind the end
                start_us, n = min(start_us, t), n + 1
            else:
                # on-time but >= gap older than the open session: its
                # own immediate session.  Exact vs batch iff no later
                # arrival lands between t and start_us — the precise
                # residual the module docstring states; with time-split
                # batches or delay=0 this branch cannot fire
                closed.append(_row(t, t, 1))
        if n == 0:
            # no state and every row late: nothing to open or emit
            yield pd.DataFrame(
                closed,
                columns=[
                    "user_id",
                    "session_start",
                    "session_end",
                    "n_events",
                ],
            )
            return
        state.update((start_us, last_us, n))
        wm = state.getCurrentWatermarkMs()
        target_ms = (last_us + gap_us) // 1000
        state.setTimeoutTimestamp(max(target_ms, wm + 1))
        yield pd.DataFrame(
            closed,
            columns=["user_id", "session_start", "session_end", "n_events"],
        )

    return _sessionize


def stream_sessionize(events_stream, gap: str = "10 minutes", delay: str = "0 seconds"):
    """Watermarked event stream (user_id, ts) -> closed session rows."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    n, unit = gap.split()
    gap_us = int(n) * {"minutes": 60, "seconds": 1}[unit] * 1_000_000
    return (
        events_stream.withWatermark("ts", delay)
        .groupBy("user_id")
        .applyInPandasWithState(
            _make_sessionizer(gap_us),
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
