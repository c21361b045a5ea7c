"""Tracked-persist bookkeeping: persisted shared subtrees get a
deterministic release point instead of relying on LRU eviction."""

from __future__ import annotations

from transitdata_omm_cancellation_source_spark import caching
from transitdata_omm_cancellation_source_spark.plans.queries import REGISTRY

from conftest import SF_SMOKE


def test_release_tracked_frees_query_caches(spark):
    caching.release_tracked()  # clean slate
    df = REGISTRY["dedup_minhash_lsh"].build(spark, SF_SMOKE)
    df.count()  # materialize: fills the tracked caches
    assert len(caching._TRACKED) > 0
    jsc = spark.sparkContext._jsc.sc()
    assert jsc.getPersistentRDDs().size() > 0
    released = caching.release_tracked()
    assert released == len(caching._TRACKED) == 0 or released > 0
    assert len(caching._TRACKED) == 0
    assert caching.release_tracked() == 0  # idempotent


def test_lloyd_rounds_release(spark):
    caching.release_tracked()
    REGISTRY["kmeans_lloyd_centroids"].build(spark, SF_SMOKE).count()
    assert len(caching._TRACKED) > 0
    caching.release_tracked()
    assert len(caching._TRACKED) == 0


def test_artifact_cache_key_is_content_sensitive(spark, tmp_path):
    """The store's memory key follows the DATA, not just the plan: a
    rewrite of the files behind the same path is a miss."""
    from transitdata_omm_cancellation_source_spark.artifacts import stored_value

    p = str(tmp_path / "vecs")
    spark.range(5).write.mode("overwrite").parquet(p)
    df = spark.read.parquet(p)
    assert stored_value("count_probe", df, df.count) == 5
    again = spark.read.parquet(p)
    assert stored_value("count_probe", again, lambda: -1) == 5  # stable

    # a plan-hash-only key would serve the stale count here
    spark.range(7).write.mode("overwrite").parquet(p)
    rewritten = spark.read.parquet(p)
    assert stored_value("count_probe", rewritten, rewritten.count) == 7


def test_new_key_supersedes_the_entry_for_the_same_plan(spark, tmp_path):
    """One memory entry per (app, name, plan): a rewrite replaces the
    superseded entry, a different plan keeps its own."""
    from transitdata_omm_cancellation_source_spark import artifacts

    p, q = str(tmp_path / "p"), str(tmp_path / "q")
    spark.range(3).write.parquet(p)
    spark.range(4).write.parquet(q)
    dp, dq = spark.read.parquet(p), spark.read.parquet(q)
    artifacts.stored_value("supersede_probe", dp, dp.count)
    artifacts.stored_value("supersede_probe", dq, dq.count)
    spark.range(6).write.mode("overwrite").parquet(p)
    dp2 = spark.read.parquet(p)
    assert artifacts.stored_value("supersede_probe", dp2, dp2.count) == 6

    entries = {
        scope: entry
        for scope, entry in artifacts._MEMORY.items()
        if scope[1] == "supersede_probe"
    }
    assert len(entries) == 2
    assert sorted(entry[2] for entry in entries.values()) == [4, 6]
