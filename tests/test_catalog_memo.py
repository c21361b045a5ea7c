"""Pins for the catalog memoization (load_tables plan reuse).

The memo must be invisible semantically: same plans served per
(session, sf_dir, table, fingerprint), a rewrite under the same path is
a MISS for that table, and a temp view is re-registered whenever its
key changes or it was dropped (the fast path skips only when nothing
could have changed).
"""

import shutil

from transitdata_omm_cancellation_source_spark import catalog
from transitdata_omm_cancellation_source_spark.catalog import load_tables

SF = "/root/testdata/sf0.001"


def test_memo_hit_serves_same_plans(spark):
    a = load_tables(spark, SF)
    b = load_tables(spark, SF)
    # plan objects reused (the ~0.7 s/call schema-read is skipped) ...
    assert a["lineitem"] is b["lineitem"]
    # ... but the returned dict is a fresh copy (callers overwrite
    # entries locally without corrupting the cache)
    assert a is not b
    a["lineitem"] = None
    assert load_tables(spark, SF)["lineitem"] is b["lineitem"]


def test_distinct_sf_dirs_coexist(spark):
    a = load_tables(spark, SF)
    load_tables(spark, "/root/testdata/sf0.01")
    # returning to the first sf_dir is still a hit
    assert load_tables(spark, SF)["orders"] is a["orders"]


def test_views_reregistered_after_drop(spark):
    load_tables(spark, SF)
    spark.catalog.dropTempView("documents")
    load_tables(spark, SF)
    assert spark.table("documents").count() > 0


def test_rewrite_under_same_path_is_a_miss(spark, tmp_path):
    sf_dir = str(tmp_path)
    src = f"{SF}/nation.parquet"
    dst = f"{sf_dir}/nation.parquet"
    shutil.copyfile(src, dst)
    a = load_tables(spark, sf_dir, names=["nation"])
    assert load_tables(spark, sf_dir, names=["nation"])["nation"] is a["nation"]
    # rewrite: same bytes, new mtime — the fingerprint half of the key
    import os

    st = os.stat(dst)
    os.utime(dst, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    b = load_tables(spark, sf_dir, names=["nation"])
    assert b["nation"] is not a["nation"]
    # the superseded entry was replaced (bounded cache): one live entry
    # per (session, sf_dir, table), holding the new fingerprint's plan
    app_id = spark.sparkContext.applicationId
    live = [
        k for k in catalog._TABLE_CACHE if k[:2] == (app_id, sf_dir)
    ]
    assert live == [(app_id, sf_dir, "nation")]
    fp, df = catalog._TABLE_CACHE[(app_id, sf_dir, "nation")]
    assert df is b["nation"]
    assert fp == (st.st_size, st.st_mtime_ns + 1_000_000)


def test_sf_switch_repoints_views(spark):
    """The spark.sql-text builders read the temp views, so an sf_dir
    switch MUST re-register them even though all views exist — the
    r15 skip fast-path keys on (sf_dir, fingerprints), never on bare
    view existence."""
    load_tables(spark, SF)
    n_small = spark.table("lineitem").count()
    load_tables(spark, "/root/testdata/sf0.01")
    n_big = spark.table("lineitem").count()
    assert n_big > n_small
    load_tables(spark, SF)
    assert spark.table("lineitem").count() == n_small


def test_unchanged_key_skips_reregistration(spark):
    """Same session + sf_dir + fingerprints with all views present:
    the ~100 ms re-registration is skipped (the r15 fast path; ~13 s
    of the 110-query bench)."""
    load_tables(spark, SF)
    calls = []
    orig = catalog.DataFrame.createOrReplaceTempView
    try:
        catalog.DataFrame.createOrReplaceTempView = (
            lambda self, name: calls.append(name) or orig(self, name)
        )
        load_tables(spark, SF)
    finally:
        catalog.DataFrame.createOrReplaceTempView = orig
    assert calls == []
    # ... but a drop re-registers (existence half of the check)
    spark.catalog.dropTempView("nation")
    load_tables(spark, SF)
    assert spark.table("nation").count() > 0
