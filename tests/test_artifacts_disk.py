"""Trained rows in the artifact store (artifacts.stored_rows).

These tests pin the disk tier's contract for the IVF quantizer and the
PQ codebook:

- a MISS trains, writes under the artifact root, and serves the rows;
- a HIT serves bit-identical rows WITHOUT the trainer running — proved
  both in-session (trainer seam patched to raise) and from a genuinely
  COLD SparkSession (separate JVM, different application id), which
  also proves the disk key is session-independent;
- rewriting the source parquet changes the key (no stale artifact);
- any edit to the package's source changes the key, however deep below
  the trainer it sits; nothing but ``*.py`` files counts.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from transitdata_omm_cancellation_source_spark import artifacts, caching
from transitdata_omm_cancellation_source_spark.catalog import load_tables
from transitdata_omm_cancellation_source_spark.operators import pq
from transitdata_omm_cancellation_source_spark.operators import similarity as sim

from conftest import SF_SMOKE, edit_source, package_copy


def _quantizer_rows(spark, t):
    return [
        (r["c_key"], list(r["cv"]), r["cn2"])
        for r in sim.ivf_quantizer(spark, t).collect()
    ]


def _codebook_rows(spark, t):
    return [
        (r["sub"], r["code"], list(r["c"]))
        for r in pq._shared_codebook(spark, pq._vectors(t)).collect()
    ]


@pytest.fixture()
def artifact_dir(spark, tmp_path):
    prior = spark.conf.get(artifacts.ARTIFACT_DIR_CONF)
    spark.conf.set(artifacts.ARTIFACT_DIR_CONF, str(tmp_path))
    caching.clear_value_memos()  # a cold memory tier over a cold disk
    yield tmp_path
    caching.clear_value_memos()
    spark.conf.set(artifacts.ARTIFACT_DIR_CONF, prior)


def _forbid_training(monkeypatch):
    def boom(train):
        raise AssertionError("artifact hit must not retrain")

    monkeypatch.setattr(artifacts, "_invoke_trainer", boom)


def test_load_without_train_bit_identity_in_session(
    spark, artifact_dir, monkeypatch
):
    t = load_tables(spark, SF_SMOKE)
    cv1, cb1 = _quantizer_rows(spark, t), _codebook_rows(spark, t)
    # artifacts landed on disk, atomically published
    names = {p.name for p in artifact_dir.iterdir()}
    assert names == {"ivf_quantizer", "pq_codebook"}
    for name in names:
        (digest_dir,) = (artifact_dir / name).iterdir()
        assert (digest_dir / "_SUCCESS").is_file()

    # second "session": memory tier cleared, trainers forbidden
    caching.clear_value_memos()
    _forbid_training(monkeypatch)
    assert _quantizer_rows(spark, t) == cv1
    assert _codebook_rows(spark, t) == cb1


_COLD_SCRIPT = """
import json, sys
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[2]")
         .config("spark.graft.artifacts.dir", sys.argv[1]).getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
import transitdata_omm_cancellation_source_spark.operators.similarity as sim
import transitdata_omm_cancellation_source_spark.operators.pq as pq
import transitdata_omm_cancellation_source_spark.artifacts as artifacts
def boom(train):
    raise AssertionError("cold session must not retrain")
artifacts._invoke_trainer = boom
from transitdata_omm_cancellation_source_spark.catalog import load_tables
t = load_tables(spark, sys.argv[2])
cv = [[r["c_key"], list(r["cv"]), r["cn2"]]
      for r in sim.ivf_quantizer(spark, t).collect()]
cb = [[r["sub"], r["code"], list(r["c"])]
      for r in pq._shared_codebook(spark, pq._vectors(t)).collect()]
print("COLD_RESULT " + json.dumps({"cv": cv, "cb": cb}))
"""


def test_cold_session_loads_bit_identical(spark, artifact_dir):
    """A separate JVM (fresh application id) must LOAD both artifacts
    without training — proving the disk key carries no session state
    and the parquet round-trip is exact (json float repr is
    shortest-roundtrip, so string equality == bit equality)."""
    t = load_tables(spark, SF_SMOKE)
    warm = {
        "cv": [list(r) for r in _quantizer_rows(spark, t)],
        "cb": [list(r) for r in _codebook_rows(spark, t)],
    }
    proc = subprocess.run(
        [sys.executable, "-c", _COLD_SCRIPT, str(artifact_dir), SF_SMOKE],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    line = [l for l in proc.stdout.splitlines() if l.startswith("COLD_RESULT ")]
    assert line, proc.stdout[-2000:]
    cold = json.loads(line[-1][len("COLD_RESULT "):])
    assert json.dumps(cold, sort_keys=True) == json.dumps(warm, sort_keys=True)


def test_rewritten_source_is_a_key_miss(spark, artifact_dir, tmp_path):
    """Rewriting the parquet bytes behind the same logical table must
    change the disk key — a stale trained artifact can never serve a
    regenerated corpus."""
    t = load_tables(spark, SF_SMOKE)
    k1 = artifacts.disk_key("ivf_quantizer", t["embeddings"])
    alt = tmp_path / "alt"
    alt.mkdir()
    shutil.copy(f"{SF_SMOKE}/embeddings.parquet", alt / "embeddings.parquet")
    os.utime(alt / "embeddings.parquet", (1, 1))
    emb2 = spark.read.parquet(str(alt / "embeddings.parquet"))
    k2 = artifacts.disk_key("ivf_quantizer", emb2)
    assert k1 != k2
    # and the name participates too: two artifacts from one source
    # cannot collide
    assert artifacts.disk_key("pq_codebook", t["embeddings"]) != k1


def _digest_of(monkeypatch, root):
    """Key the store on the package copy at ``root``, as a process
    importing that tree would."""
    monkeypatch.setattr(
        artifacts, "package_digest", lambda: artifacts.source_digest(str(root))
    )


def test_trainer_body_edit_is_a_key_miss(spark, tmp_path, monkeypatch):
    """Editing a trainer's body changes the package digest and with it
    the artifact's disk key."""
    src = pq._vectors(load_tables(spark, SF_SMOKE))
    root = package_copy(tmp_path)
    _digest_of(monkeypatch, root)
    k1 = artifacts.disk_key("pq_codebook", src)
    edit_source(
        root / "operators" / "pq.py",
        "    if rounds <= 0:",
        "    if rounds < 1:",
    )
    assert artifacts.disk_key("pq_codebook", src) != k1


def test_helper_edit_two_calls_below_trainer_is_a_key_miss(
    spark, tmp_path, monkeypatch
):
    """ivf_quantizer's trainer calls ``_fold_centroids``, which calls
    ``_chunk_fold_pdf``: a body edit two calls below the trainer must
    still miss."""
    import inspect

    assert "_fold_centroids(" in inspect.getsource(sim.ivf_quantizer)
    assert "_chunk_fold_pdf" not in inspect.getsource(sim.ivf_quantizer)
    assert "_chunk_fold_pdf(" in inspect.getsource(sim._fold_centroids)

    src = load_tables(spark, SF_SMOKE)["embeddings"]
    root = package_copy(tmp_path)
    _digest_of(monkeypatch, root)
    d1 = artifacts.package_digest()
    k1 = artifacts.disk_key("ivf_quantizer", src)
    edit_source(
        root / "operators" / "similarity.py",
        "        acc = mat.cumsum(axis=0)[-1]",
        "        acc = mat.cumsum(axis=0)[-1] + 0.0",
    )
    assert artifacts.package_digest() != d1
    assert artifacts.disk_key("ivf_quantizer", src) != k1


def test_unchanged_tree_digests_identically(tmp_path):
    assert artifacts.source_digest(str(package_copy(tmp_path / "a"))) == (
        artifacts.package_digest()
    )
    assert artifacts.source_digest(str(package_copy(tmp_path / "b"))) == (
        artifacts.package_digest()
    )


def test_pycache_and_non_py_files_do_not_count(tmp_path):
    root = package_copy(tmp_path)
    before = artifacts.source_digest(str(root))
    (root / "__pycache__").mkdir(exist_ok=True)
    (root / "__pycache__" / "artifacts.cpython-312.pyc").write_bytes(b"\0junk")
    (root / "operators" / "notes.txt").write_text("not code")
    (root / "data.json").write_text("{}")
    assert artifacts.source_digest(str(root)) == before
