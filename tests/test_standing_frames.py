"""Disk-persisted STANDING INDEXES for the incremental-dedup family:
the band index, shingle sets and embedding assignment frame are stored
frames with ``disk=True``, keyed by source-file fingerprints and the
package digest, so a FRESH session's first delta batch LOADS the corpus
index instead of re-paying its build — and a corpus rewrite or a code
edit is a key miss.
"""

from __future__ import annotations

import os
import shutil

import pytest

import transitdata_omm_cancellation_source_spark.artifacts as artifacts
from transitdata_omm_cancellation_source_spark.artifacts import (
    ARTIFACT_DIR_CONF,
    stored_frame,
)
from transitdata_omm_cancellation_source_spark.caching import release_tracked
from transitdata_omm_cancellation_source_spark.operators.dedup_fuzzy import (
    _cosine_vb,
    _minhash_shingles,
)

from conftest import SF_SMOKE, edit_source, package_copy


@pytest.fixture()
def artifact_dir(spark, tmp_path):
    """Point the artifact root at a per-test dir and clear the
    in-session frame cache around it, so each test sees a cold disk."""
    prior = spark.conf.get(ARTIFACT_DIR_CONF)
    spark.conf.set(ARTIFACT_DIR_CONF, str(tmp_path / "artifacts"))
    release_tracked()
    yield str(tmp_path / "artifacts")
    release_tracked()
    spark.conf.set(ARTIFACT_DIR_CONF, prior)


def _tables(spark):
    return {
        "documents": spark.read.parquet(f"{SF_SMOKE}/documents.parquet"),
        "embeddings": spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet"),
    }


def _builds(monkeypatch):
    calls = []
    orig = artifacts._invoke_frame_builder

    def guard(build):
        calls.append(build)
        return orig(build)

    monkeypatch.setattr(artifacts, "_invoke_frame_builder", guard)
    return calls


def test_fresh_session_loads_standing_index(spark, artifact_dir, monkeypatch):
    """First build publishes; a 'fresh session' (in-session caches
    cleared) serves the SAME rows from disk with ZERO builder
    invocations — the load-not-rebuild contract."""
    calls = _builds(monkeypatch)
    t = _tables(spark)
    first = _minhash_shingles(t)
    rows = first.count()
    assert len(calls) == 1  # cold disk: built exactly once

    release_tracked()  # simulate the fresh session: no frame objects,
    # no persisted data — only the disk artifact remains
    again = _minhash_shingles(_tables(spark))
    assert again.count() == rows
    assert len(calls) == 1  # served from disk, builder never re-ran

    # value-identity, not just count: the loaded frame IS the built one
    assert sorted(map(tuple, again.collect())) == sorted(
        map(tuple, first.collect())
    )


def test_embedding_assignment_frame_loads(spark, artifact_dir, monkeypatch):
    calls = _builds(monkeypatch)
    t = _tables(spark)
    rows = _cosine_vb(spark, t).count()
    built_cold = len(calls)
    assert built_cold >= 1
    release_tracked()
    assert _cosine_vb(spark, _tables(spark)).count() == rows
    assert len(calls) == built_cold  # disk hit


def test_corpus_rewrite_is_a_key_miss(spark, tmp_path, monkeypatch):
    """Same path, rewritten bytes -> different fingerprints -> the
    standing index is REBUILT, never served stale."""
    prior = spark.conf.get(ARTIFACT_DIR_CONF)
    spark.conf.set(ARTIFACT_DIR_CONF, str(tmp_path / "artifacts"))
    try:
        corpus = tmp_path / "docs"
        docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        docs.write.parquet(str(corpus))
        calls = _builds(monkeypatch)
        release_tracked()

        def t():
            return {"documents": spark.read.parquet(str(corpus))}

        _minhash_shingles(t()).count()
        assert len(calls) == 1

        # rewrite the corpus in place (drop half the docs)
        half = docs.filter("doc_id % 2 = 0")
        tmp_out = tmp_path / "docs2"
        half.write.parquet(str(tmp_out))
        shutil.rmtree(corpus)
        os.rename(tmp_out, corpus)

        release_tracked()
        n2 = _minhash_shingles(t()).count()
        assert len(calls) == 2  # rewrite missed the cache
        assert n2 < docs.count() * 2  # rebuilt over the smaller corpus
    finally:
        release_tracked()
        spark.conf.set(ARTIFACT_DIR_CONF, prior)


def test_builder_edit_is_a_key_miss(spark, artifact_dir, monkeypatch, tmp_path):
    """An edit to a frame builder's code publishes a new digest: the
    builder runs again instead of the old index being served."""
    calls = _builds(monkeypatch)
    _minhash_shingles(_tables(spark)).count()
    assert len(calls) == 1

    root = package_copy(tmp_path)
    edit_source(
        root / "operators" / "dedup_fuzzy.py",
        '        F.array_sort(X.shingles_from_word_hashes("wh"))',
        '        F.array_sort(X.shingles_from_word_hashes(F.col("wh")))',
    )
    monkeypatch.setattr(  # key the store on the edited copy
        artifacts, "package_digest", lambda: artifacts.source_digest(str(root))
    )
    release_tracked()
    _minhash_shingles(_tables(spark)).count()
    assert len(calls) == 2
    digests = os.listdir(os.path.join(artifact_dir, "shingle_sets"))
    assert len(digests) == 2


def test_publish_evicts_old_digests(spark, artifact_dir, monkeypatch, tmp_path):
    """Each rewrite of the source mints a new digest; publishing keeps
    only the newest ``_KEEP_DIGESTS`` of them, the served one among
    them."""
    keep = artifacts._KEEP_DIGESTS
    path = str(tmp_path / "src")

    def serve():
        src = spark.read.parquet(path)
        return stored_frame("evict_probe", src, lambda: src, disk=True)

    for i in range(keep + 2):
        spark.range(i + 1).write.mode("overwrite").parquet(path)
        assert serve().count() == i + 1
    digests = os.listdir(os.path.join(artifact_dir, "evict_probe"))
    assert len(digests) == keep
    # the newest artifact survived: a fresh serve loads it, no build
    calls = _builds(monkeypatch)
    release_tracked()
    assert serve().count() == keep + 2
    assert calls == []


def test_full_scan_intermediates_stay_in_session(spark, artifact_dir):
    """band_candidates / verified pairs are query output mass, not
    standing state — they must NOT publish disk artifacts."""
    from transitdata_omm_cancellation_source_spark.operators.dedup_fuzzy import (
        _band_candidates,
    )

    t = _tables(spark)
    _band_candidates(t).count()
    published = (
        os.listdir(artifact_dir) if os.path.isdir(artifact_dir) else []
    )
    assert "band_candidates" not in published


def test_fileless_corpus_builds_in_session_without_collision(
    spark, artifact_dir
):
    """createDataFrame corpora have no input files, so the disk key
    cannot see their data — they must build in-session (plan-hash
    keyed), never publish, and never collide with each other, even
    when the frame asks for the disk tier."""
    a = spark.createDataFrame([(1, "alpha beta gamma delta")], "doc_id long, text string")
    b = spark.createDataFrame(
        [(1, "epsilon zeta eta theta"), (2, "iota kappa lambda mu")],
        "doc_id long, text string",
    )
    # (the family frames run over the PLANTED corpus, which adds
    # perturbed copies — the exact counts don't matter here, only that
    # the two corpora get DIFFERENT frames, not one shared digest)
    na = _minhash_shingles({"documents": a}).count()
    nb = _minhash_shingles({"documents": b}).count()
    assert na < nb
    published = (
        os.listdir(artifact_dir) if os.path.isdir(artifact_dir) else []
    )
    assert "shingle_sets" not in published
    assert stored_frame("fileless", a, lambda: a, disk=True).count() == 1
    assert stored_frame("fileless", b, lambda: b, disk=True).count() == 2
    assert not os.path.exists(os.path.join(artifact_dir, "fileless"))
