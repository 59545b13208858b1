"""Persist-lifetime discipline for operator-internal caches.

Several operators persist an intermediate that feeds multiple plan legs
(minhash signatures, sign-LSH signatures, exploded token tables). Those
frames escape through the returned DataFrame, so the operator itself cannot
unpersist before the caller's action runs. The contract:

- operators call ``tracked_persist(df)`` instead of ``df.persist()``;
- a long-lived session (selfcheck over the full query pack, bench, the driver's
  query loop) calls ``release_tracked()`` once the consuming action is
  done — ``__spark_entry__.queries()`` wraps every entry to release the
  PREVIOUS query's caches before building the next plan, so storage is
  bounded by one query's working set instead of growing across the run.

The connected-components loop (dedup.duplicate_clusters) manages its own
per-generation localCheckpoints and is exempt.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_TRACKED: list[DataFrame] = []


def tracked_persist(df: DataFrame) -> DataFrame:
    """persist() + register for deferred release via release_tracked()."""
    df.persist()
    _TRACKED.append(df)
    return df


def track(df: DataFrame) -> DataFrame:
    """Register an ALREADY-cached frame (e.g. a localCheckpoint) for
    deferred release without persisting it again."""
    _TRACKED.append(df)
    return df


def release_tracked() -> int:
    """Unpersist every tracked frame (blocking — r8: the async default left
    hundreds of MB of cached blocks alive through the NEXT queries' actions
    in a shared session, showing up as GC drag on every query after a
    cache-heavy one); returns the count."""
    n = len(_TRACKED)
    for df in _TRACKED:
        try:
            df.unpersist(blocking=True)
        except Exception:
            pass  # session already stopped — nothing to release
    _TRACKED.clear()
    return n
