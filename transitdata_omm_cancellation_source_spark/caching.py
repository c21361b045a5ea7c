"""Tracked persist: session-lifetime cache bookkeeping for the
operator families that persist shared subtrees.

Several builders persist intermediates whose lifetime necessarily
extends past build() — cross-query shared subtrees (sorted shingle
sets, verified near-dup pairs) and per-round frames consumed lazily by
the next loop iteration (Lloyd assignments).  Those frames cannot be
unpersisted inside the builder (their cache fills only when the caller
materializes the query), so without bookkeeping a long-lived session
accumulates them until LRU eviction.  ``persist_tracked`` records every
such frame; ``release_tracked`` is the explicit cleanup hook for
workload boundaries (bench.py calls it between passes; a long-lived
service should call it whenever a query's results have been fully
consumed).

DataFrame.persist() already defaults to a spill-to-disk storage level,
so the pressure-risk is eviction-triggered recompute, not OOM — the
hook turns "rely on LRU" into a deterministic release point.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame

_TRACKED: list[DataFrame] = []

#: Artifact caches holding PERSISTED DataFrame objects (not bounded
#: local relations like the trained-centroid/codebook caches) — their
#: entries go stale the moment release_tracked unpersists the data, so
#: registering them here keeps "release" one call with no dangling
#: unpersisted frame objects handed out afterwards.
_ARTIFACT_FRAME_CACHES: list[dict] = []


def register_artifact_frame_cache(cache: dict) -> dict:
    """Register a dict of persisted-DataFrame artifacts for clearing by
    release_tracked; returns the dict for inline module-level use."""
    _ARTIFACT_FRAME_CACHES.append(cache)
    return cache


#: Bounded VALUE memos that deliberately SURVIVE ``release_tracked``
#: — the documented exclusion list (r15 verdict #4).  Two classes live
#: here, and ONLY these two:
#:
#: - trained artifacts: bounded local relations / scalars whose
#:   recompute is deterministic and whose production shape is
#:   train-once/serve-many (the PQ codebook, the IVF quantizer +
#:   corpus count, PCA's max|u| guard aggregate);
#: - derived PLAN PARAMETERS: perf-only knobs estimated from the
#:   corpus (the ngram hot-shingle order and pass counts, pagerank's
#:   pass count) — results are exact regardless of their value, they
#:   only shape candidate order / scratch partitioning.
#:
#: Both classes hold plain values or ≤4096-row local relations keyed
#: by ``artifact_cache_key``-style content fingerprints — never
#: persisted DataFrames (those belong in a registered frame cache so
#: release_tracked can unpersist their data).  ``release_tracked``
#: clears FRAMES (executor memory); these memos hold no executor
#: memory, so a workload boundary keeps them, exactly like the disk
#: artifact tier.  ``clear_value_memos`` is the cold-path hook for
#: benches/tests that want a truly-from-scratch build.
_VALUE_MEMOS: list[dict] = []


def register_value_memo(cache: dict) -> dict:
    """Register a bounded value memo under the survive-release contract
    above; returns the dict for inline module-level use."""
    _VALUE_MEMOS.append(cache)
    return cache


def clear_value_memos() -> int:
    """Drop every registered value memo (trained artifacts + derived
    plan parameters) — the explicit cold-start hook; returns the
    number of entries dropped."""
    n = 0
    for cache in _VALUE_MEMOS:
        n += len(cache)
        cache.clear()
    return n


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


def artifact_cache_key(spark, df: DataFrame) -> tuple:
    """Content-sensitive key for session-lifetime trained artifacts.

    ``semanticHash`` alone keys the PLAN, not the DATA: if the parquet
    files behind the same path are rewritten within a session (e.g. a
    regenerated scale corpus), a plan-keyed cache would serve an
    artifact trained on the old bytes while the oracle reads the new
    ones.  Appending each input file's (uri, size, mtime) fingerprint
    makes a rewrite a cache MISS; non-local or unstattable inputs fall
    back to their uri alone (plan-keyed behavior, the previous
    contract).  URIs are parsed properly (percent-decoding, authority
    handling) so Hadoop-encoded paths still fingerprint.  Listing
    input files touches only the scan's file index — no job runs.

    Consumers should insert via ``replace_plan_artifact`` so a rewrite
    EVICTS the superseded entry instead of accumulating one dead
    trained artifact per rewrite.
    """
    return (
        spark.sparkContext.applicationId,
        df.semanticHash(),
        input_fingerprints(df),
    )


def input_fingerprints(df: DataFrame) -> tuple:
    """(uri, size, mtime_ns) per input file — the data half of the
    artifact keys, shared by the session cache above and the disk key
    in ``artifacts.py``."""
    import os
    from urllib.parse import unquote, urlparse

    files = []
    for uri in sorted(df.inputFiles()):
        entry: tuple = (uri,)
        parsed = urlparse(uri)
        if parsed.scheme in ("file", "") and parsed.path:
            # A local path containing a literal percent sequence (e.g. a
            # directory named 'a%20b' that Hadoop did not re-encode) stats
            # wrong after unquoting — try both forms, first hit wins, so
            # either encoding keeps the content fingerprint instead of
            # silently degrading to the plan-keyed fallback.
            for cand in dict.fromkeys((unquote(parsed.path), parsed.path)):
                try:
                    st = os.stat(cand)
                    entry = (uri, st.st_size, st.st_mtime_ns)
                    break
                except OSError:
                    continue
        files.append(entry)
    return tuple(files)


def replace_plan_artifact(cache: dict, key: tuple, value) -> None:
    """Insert a trained artifact, evicting entries for the SAME plan
    with a different data fingerprint — the superseded artifacts a
    rewrite leaves behind.  Keeps the cache bounded by live (session,
    plan) pairs rather than growing per rewrite."""
    for stale in [k for k in cache if k[:2] == key[:2] and k != key]:
        del cache[stale]
    cache[key] = value
