"""Tracked persists and the two lifetime hooks.

Builders persist frames whose cache fills only when the caller runs the
query (shared subtrees, per-round Lloyd frames), so they cannot
unpersist them inside ``build()``.  ``persist_tracked`` records each
such frame so a workload boundary has one deterministic release point
instead of relying on LRU eviction.

The artifact store (``artifacts.py``) owns every content-keyed artifact
and its lifetime table; these are its only two hooks:

- ``release_tracked()`` — the release hook: unpersists every tracked
  frame and drops the store's frame entries.  Values and trained rows
  hold no executor memory and survive it, like the disk tier.
- ``clear_value_memos()`` — the cold hook: drops the store's values and
  trained rows, so the next use recomputes (or reloads from disk).

``register_artifact_frame_cache`` serves the poll path's view-keyed
plan memos in ``plans/cancellation.py``, which key on catalog view
registrations rather than source frames and so live outside the store.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame

_TRACKED: list[DataFrame] = []

#: dicts of persisted frames outside the store, cleared by release_tracked
_ARTIFACT_FRAME_CACHES: list[dict] = []


def register_artifact_frame_cache(cache: dict) -> dict:
    """Register a dict of persisted-DataFrame artifacts for clearing by
    release_tracked; returns the dict for inline module-level use."""
    _ARTIFACT_FRAME_CACHES.append(cache)
    return cache


def clear_value_memos() -> int:
    """The cold hook: drop the store's values and trained rows; returns
    the number of entries dropped."""
    from .artifacts import ROWS, VALUE, forget

    return forget((VALUE, ROWS))


def persist_tracked(df: DataFrame, level: StorageLevel | None = None) -> DataFrame:
    """persist() + record the frame for a later bulk release."""
    _TRACKED.append(df.persist() if level is None else df.persist(level))
    return df


def release_frame(df: DataFrame) -> None:
    """Unpersist one tracked frame ahead of the bulk release."""
    for i, tracked in enumerate(_TRACKED):
        if tracked is df:
            del _TRACKED[i]
            break
    df.unpersist()


def release_tracked() -> int:
    """Unpersist every tracked frame (idempotent); returns the count."""
    from .artifacts import FRAME, forget

    forget((FRAME,))
    n = 0
    for cache in _ARTIFACT_FRAME_CACHES:
        cache.clear()
    while _TRACKED:
        df = _TRACKED.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:  # session already stopped: nothing to free
            pass
    return n
