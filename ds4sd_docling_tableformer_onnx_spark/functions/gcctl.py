"""Cyclic-GC suspension for Python-boundary task generators.

The row worker (functions/rows.py), which runs per-turn extraction,
boilerplate strip, reading order, tensor prep and table decode, churns
short-lived ACYCLIC dicts/lists that reference counting frees
immediately; CPython's generational collector only adds overhead
there, repeatedly walking a survivor set that grows for the
duration of the task (pinned-core A/B on the extraction core:
+11-13% turns/s with collection suspended).

``suspended_gc`` wraps a batch-iterator worker: collection is disabled
when the task generator starts and re-enabled (enable-state guarded,
``finally``) when it closes — any cycle created meanwhile is collected
on the next enabled pass.  This changes WHEN garbage is collected,
never what is computed.
"""

from __future__ import annotations

from contextlib import contextmanager


@contextmanager
def suspended_gc():
    import gc

    was_enabled = gc.isenabled()
    if was_enabled:
        gc.disable()
    try:
        yield
    finally:
        if was_enabled:
            gc.enable()
