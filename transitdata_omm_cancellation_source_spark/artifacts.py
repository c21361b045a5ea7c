"""The artifact store: every content-keyed artifact, one key, one lifetime.

An artifact is anything the engine derives from a source table and
reuses across queries: corpus counts and plan parameters, the trained
IVF quantizer and PQ codebook, the shared tokenize frame, the packed PQ
codes and the dedup family's standing frames.  Each is served by one
store call (``stored_value``, ``stored_rows``, ``stored_frame``).

Key
---
- memory: ``(appId, name, source.semanticHash(),
  input_fingerprints(source), *extra)``.  ``extra`` holds only runtime
  values the artifact depends on beyond its source (a budget conf).
  The input fingerprints make a rewrite of the files behind the same
  path a miss; the plan hash separates distinct fileless sources.
- disk: ``sha256(name, input_fingerprints(source), source schema,
  package_digest())``.  The package digest hashes every ``*.py`` of
  this package, so any code edit, however deep below a trainer, is a
  miss.  The plan hash is left out on purpose: it bakes in session
  confs, so a plan-keyed disk key would never hit across sessions.

One memory entry is kept per ``(appId, name, plan hash)``: a new key
for the same scope drops the entry it supersedes, and unpersists a
superseded frame before the new one is built.  Spark's cache matches
plans by file path, so a frame left persisted over a rewritten file
would otherwise serve its old rows to the new plan.

Lifetime
--------
=========  ===============================  ===============  ===================
kind       tiers                            release_tracked  clear_value_memos
=========  ===============================  ===============  ===================
value      memory                           kept             dropped
rows       memory -> disk -> train          kept             dropped
frame      memory -> disk (``disk=True``)   unpersisted,     --
           -> build, persisted              dropped
=========  ===============================  ===============  ===================

A fileless source (a local relation) has no data identity the disk key
can see, so it is never published to disk under any kind.

Disk layout: ``<root>/<name>/<digest>/`` parquet, written to a temp dir
and renamed into place (a concurrent writer loses the rename and
discards its copy: the key guarantees both wrote the same content).
The newest ``_KEEP_DIGESTS`` digests per name survive each publish.
The root is ``graft_artifacts`` under the warehouse dir unless
``spark.graft.artifacts.dir`` is set.  Trained rows are served as a
local relation sorted by their key columns, so either tier yields the
same bytes; frames are served as a lazy parquet scan.
"""

from __future__ import annotations

import functools
import hashlib
import os
import shutil
import uuid
from typing import Callable, Sequence
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession

from .caching import persist_tracked, release_frame

ARTIFACT_DIR_CONF = "spark.graft.artifacts.dir"

#: One dict per disk-tier serve, ``{"name": <artifact>, "served":
#: "disk" | "built"}``, so a harness can report which artifacts its
#: timed region loaded and which it built.  Harnesses drain or slice it.
SERVE_EVENTS: list[dict] = []

#: published digests kept per artifact name.  Every regenerated corpus
#: and every code edit mints new digests; this bounds the root.
_KEEP_DIGESTS = 4

VALUE, ROWS, FRAME = "value", "rows", "frame"

#: (appId, name, plan hash) -> (key, kind, artifact)
_MEMORY: dict[tuple, tuple] = {}


def input_fingerprints(df: DataFrame) -> tuple:
    """(uri, size, mtime_ns) per input file: the data half of both keys.

    Non-local or unstattable inputs keep their uri alone.  A local path
    is tried both percent-decoded and raw, so either Hadoop encoding
    still fingerprints.  Listing input files runs no job."""
    files = []
    for uri in sorted(df.inputFiles()):
        entry: tuple = (uri,)
        parsed = urlparse(uri)
        if parsed.scheme in ("file", "") and parsed.path:
            for cand in dict.fromkeys((unquote(parsed.path), parsed.path)):
                try:
                    st = os.stat(cand)
                    entry = (uri, st.st_size, st.st_mtime_ns)
                    break
                except OSError:
                    continue
        files.append(entry)
    return tuple(files)


def source_digest(root: str) -> str:
    """sha256 over the sorted (relpath, bytes) of every ``*.py`` under
    ``root``; nothing else in the tree counts."""
    paths = sorted(
        os.path.relpath(os.path.join(d, f), root)
        for d, _, files in os.walk(root)
        for f in files
        if f.endswith(".py")
    )
    h = hashlib.sha256()
    for rel in paths:
        with open(os.path.join(root, rel), "rb") as fh:
            h.update(repr((rel, fh.read())).encode())
    return h.hexdigest()


@functools.cache
def package_digest() -> str:
    """``source_digest`` of this package, computed once per process."""
    return source_digest(os.path.dirname(os.path.abspath(__file__)))


def disk_key(name: str, source: DataFrame) -> str:
    payload = repr(
        (
            name,
            input_fingerprints(source),
            source.schema.simpleString(),
            package_digest(),
        )
    )
    return hashlib.sha256(payload.encode()).hexdigest()[:32]


def warehouse_local_path(spark: SparkSession) -> str:
    """The warehouse dir as a plain local path — the resolution policy
    shared by the artifact root and pagerank's parquet scratch dir
    (one place to fix if a non-file scheme ever needs handling)."""
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir"))
    return wh.path if wh.scheme in ("file", "") and wh.path else "spark-warehouse"


def _disk_path(name: str, source: DataFrame) -> str | None:
    """Where ``name`` over ``source`` publishes, or None for a fileless
    source."""
    if not input_fingerprints(source):
        return None
    spark = source.sparkSession
    root = spark.conf.get(ARTIFACT_DIR_CONF, "") or os.path.join(
        warehouse_local_path(spark), "graft_artifacts"
    )
    return os.path.join(root, name, disk_key(name, source))


def _disk_hit(path: str, name: str) -> bool:
    """Whether ``path`` is published; logs the serve either way."""
    hit = os.path.isfile(os.path.join(path, "_SUCCESS"))
    SERVE_EVENTS.append({"name": name, "served": "disk" if hit else "built"})
    return hit


def _serve(kind: str, name: str, source: DataFrame, extra: tuple, load):
    key = (
        source.sparkSession.sparkContext.applicationId,
        name,
        source.semanticHash(),
        input_fingerprints(source),
        *extra,
    )
    entry = _MEMORY.get(key[:3])
    if entry is not None and entry[0] == key:
        return entry[2]
    if entry is not None:
        del _MEMORY[key[:3]]
        if entry[1] == FRAME:
            release_frame(entry[2])
    artifact = load()
    _MEMORY[key[:3]] = (key, kind, artifact)
    return artifact


def stored_value(name: str, source: DataFrame, compute: Callable[[], object], *extra):
    """A memory-only value (a count, a bound, a plan parameter)."""
    return _serve(VALUE, name, source, extra, compute)


def stored_rows(
    name: str,
    source: DataFrame,
    train: Callable[[], DataFrame],
    schema,
    key_cols: Sequence[str],
) -> DataFrame:
    """A bounded trained relation, served as a local relation over rows
    sorted by ``key_cols``.  ``train()`` returns the training plan; it
    is collected only when neither memory nor disk holds the rows."""
    spark = source.sparkSession

    def load() -> DataFrame:
        path = _disk_path(name, source)
        hit = path is not None and _disk_hit(path, name)
        plan = spark.read.parquet(path) if hit else _invoke_trainer(train)
        rows = sorted(plan.collect(), key=lambda r: tuple(r[c] for c in key_cols))
        out = spark.createDataFrame(rows, schema)
        if path is not None and not hit:
            _publish(out.coalesce(1), path)
        return out

    return _serve(ROWS, name, source, (), load)


def stored_frame(
    name: str, source: DataFrame, build: Callable[[], DataFrame], *, disk: bool = False
) -> DataFrame:
    """A persisted frame, served as the SAME object to every consumer
    until ``release_tracked``: re-constructing a large plan per
    consumer costs seconds of driver-side analysis even with its data
    cached.  ``disk=True`` marks a standing index (not query output
    mass) that also publishes, so a fresh session loads it instead of
    rebuilding.  ``source`` must be the raw table: a derived frame over
    the same files would share its disk key."""

    def load() -> DataFrame:
        path = _disk_path(name, source) if disk else None
        if path is None:
            return persist_tracked(build())
        if _disk_hit(path, name):
            try:  # refresh recency for publish-time eviction
                os.utime(path)
            except OSError:
                pass
        else:
            _publish(_invoke_frame_builder(build), path)
        return persist_tracked(source.sparkSession.read.parquet(path))

    return _serve(FRAME, name, source, (), load)


def _invoke_trainer(train):
    """Build seam for trained rows: tests patch it to prove a hit never
    trains, harnesses to time every build."""
    return train()


def _invoke_frame_builder(build):
    """Build seam for disk frames (the ``_invoke_trainer`` contract)."""
    return build()


def forget(kinds: Sequence[str]) -> int:
    """Drop every memory entry of ``kinds``; returns the count.  Only
    the ``caching`` hooks call this."""
    stale = [scope for scope, entry in _MEMORY.items() if entry[1] in kinds]
    for scope in stale:
        del _MEMORY[scope]
    return len(stale)


def _publish(df: DataFrame, path: str) -> None:
    """Write to a sibling temp dir and rename into place, then evict all
    but the newest ``_KEEP_DIGESTS`` digests of this name."""
    parent = os.path.dirname(path)
    os.makedirs(parent, exist_ok=True)
    tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    df.write.mode("overwrite").parquet(tmp)
    try:
        os.rename(tmp, path)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.isfile(os.path.join(path, "_SUCCESS")):
            raise
    _evict_old_digests(parent, keep=_KEEP_DIGESTS)


def _evict_old_digests(parent: str, keep: int) -> None:
    """Drop all but the ``keep`` most recently published digest dirs
    under one name (by dir mtime; the just-renamed dir is newest).
    Leftover ``.tmp-*`` dirs from a crashed writer always go."""
    try:
        entries = [
            os.path.join(parent, d)
            for d in os.listdir(parent)
            if os.path.isdir(os.path.join(parent, d))
        ]
    except OSError:
        return
    tmps = [p for p in entries if ".tmp-" in os.path.basename(p)]
    published = sorted(
        (p for p in entries if p not in tmps),
        key=os.path.getmtime,
        reverse=True,
    )
    for p in tmps + published[keep:]:
        shutil.rmtree(p, ignore_errors=True)
