"""Tracked DataFrame caches: explicit release for plan intermediates.

A plan step that must materialize an intermediate twice caches it: the
``array_equality`` screen's mismatched-key set is counted once (an empty
set skips the re-fetch, and the count gives the planner the set's exact
size) and joined again to re-fetch the arrays. A bare ``.cache()``
leaks executor storage until the JVM's ContextCleaner garbage-collects the
plan — fine in a notebook, not in a long-lived job. This registry mirrors
``CompiledPlan.release()``: steps ``track()`` what they persist, and the
caller releases everything after the consuming action::

    result = engine.validate(df, rules, {"reference_tokens": ref})
    rows = result.sorted_violations().collect()
    cache.release_all()

At cluster scale the same seam is where you would swap the cache for a
materialized intermediate table between stages.

Scope caveat: the registry is process-global and release_all() unpersists
EVERYTHING tracked — it is built for the serial run-query-then-release
loop (bench, CLI, driver). Interleaved pipelines sharing a session should
release at their own pipeline boundaries only, or materialize candidates
to tables instead; entries do hold references until released, so a
long-lived service that never calls release_all() reintroduces the very
accumulation this module exists to prevent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_tracked: list[DataFrame] = []


def track(df: DataFrame) -> DataFrame:
    """Register a persisted DataFrame for later release; returns it."""
    _tracked.append(df)
    return df


def release_all() -> int:
    """Unpersist every tracked DataFrame; returns how many were released."""
    global _tracked
    released = 0
    for df in _tracked:
        try:
            df.unpersist()
            released += 1
        except Exception:  # noqa: BLE001 - session may already be gone
            pass
    _tracked = []
    return released
