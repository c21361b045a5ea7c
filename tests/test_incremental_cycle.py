"""The incremental poll-cycle contract.

A poll cycle pays only for the tables whose source changed: the catalog
re-reads one rewritten table, the OMM model re-registers only the
relations over it, and the cancellation pipeline keeps its persisted
journey (timetable) side until one of the journey tables is rewritten.
"""

from __future__ import annotations

import os
import shutil

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from transitdata_omm_cancellation_source_spark import caching, catalog, testing
from transitdata_omm_cancellation_source_spark.catalog import TABLE_NAMES, load_tables
from transitdata_omm_cancellation_source_spark.plans import cancellation
from transitdata_omm_cancellation_source_spark.plans.cancellation import (
    QueryParams,
    cancellation_oracle_sql,
    cancellation_pipeline,
    journey_side,
)
from transitdata_omm_cancellation_source_spark.streaming.poller import (
    SnapshotStore,
    run_poll_cycle,
)

from conftest import SF_SMOKE


@pytest.fixture
def sf_dir(tmp_path):
    """A private, writable copy of the smoke tables."""
    out = tmp_path / "sf"
    out.mkdir()
    for name in TABLE_NAMES:
        shutil.copyfile(f"{SF_SMOKE}/{name}.parquet", out / f"{name}.parquet")
    return str(out)


def _touch(path: str) -> None:
    """Rewrite a source in place: same bytes, a newer mtime."""
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))


def _persisted(df) -> bool:
    """Whether Spark's cache manager holds a plan matching ``df``."""
    level = df.storageLevel
    return level.useMemory or level.useDisk


def _disk_only_rdds(spark) -> int:
    """Persisted RDDs at the journey side's level, which nothing else uses.
    Counted from the context, because the cache manager matches plans by
    file path: a superseded journey frame over a rewritten file still
    matches the new frame's cache entry."""
    levels = [
        rdd.getStorageLevel()
        for rdd in spark.sparkContext._jsc.getPersistentRDDs().values()
    ]
    return sum(lv.useDisk() and not lv.useMemory() for lv in levels)


def _drop_half_the_orders(sf_dir: str) -> None:
    path = f"{sf_dir}/orders.parquet"
    orders = pq.read_table(path)
    keep = pc.equal(pc.bit_wise_and(orders["o_orderkey"], 1), 0)
    pq.write_table(orders.filter(keep), path)


def test_events_rewrite_reloads_one_table_and_three_views(spark, sf_dir, monkeypatch):
    load_tables(spark, sf_dir)
    cancellation_pipeline(spark, QueryParams(mode="NOW"))

    loaded, registered = [], []
    load_table = catalog.load_table
    frame_cls = type(spark.range(1))
    register = frame_cls.createOrReplaceTempView
    monkeypatch.setattr(
        catalog, "load_table",
        lambda s, d, name: loaded.append(name) or load_table(s, d, name),
    )
    monkeypatch.setattr(
        frame_cls, "createOrReplaceTempView",
        lambda self, name: registered.append(name) or register(self, name),
    )
    _touch(f"{sf_dir}/events.parquet")
    load_tables(spark, sf_dir)
    cancellation_pipeline(spark, QueryParams(mode="NOW"))

    assert loaded == ["events"]
    assert sorted(registered) == [
        "events", "omm_affected_departures", "omm_deviation_cases",
    ]


def test_journey_frame_survives_events_rewrite(spark, sf_dir):
    load_tables(spark, sf_dir)
    cancellation_pipeline(spark, QueryParams(mode="NOW"))
    journey = journey_side(spark)
    _touch(f"{sf_dir}/events.parquet")
    load_tables(spark, sf_dir)
    cancellation_pipeline(spark, QueryParams(mode="NOW"))
    assert journey_side(spark) is journey
    assert _persisted(journey)


@pytest.mark.parametrize("mode", ["NOW", "PAST"])
def test_orders_rewrite_rebuilds_journey_and_cycles_match_oracle(
    spark, sf_dir, tmp_path, mode
):
    params = QueryParams(mode=mode)
    store = SnapshotStore(str(tmp_path / "snap"))
    prev_keys: set[str] | None = None
    journeys, totals = [], []
    for rewrite in (None, _drop_half_the_orders):
        if rewrite is not None:
            rewrite(sf_dir)
        load_tables(spark, sf_dir)
        counts = run_poll_cycle(spark, store, params)
        journeys.append(journey_side(spark))

        con = testing.duckdb_connection(sf_dir)
        try:
            keys = [r[0] for r in con.execute(
                f"SELECT dvj_id FROM ({cancellation_oracle_sql(params)})"
            ).fetchall()]
        finally:
            con.close()
        new = len(keys) if prev_keys is None else sum(k not in prev_keys for k in keys)
        assert (counts["total"], counts["new"], counts["repeated"]) == (
            len(keys), new, len(keys) - new,
        )
        prev_keys = set(keys)
        totals.append(len(keys))

    # the rewrite removed journeys, so a stale journey side would show
    assert totals[1] < totals[0]
    old, current = journeys
    assert current is not old
    assert _persisted(current)
    assert _disk_only_rdds(spark) == 1


def test_release_tracked_drops_journey_frame(spark, sf_dir):
    load_tables(spark, sf_dir)
    expected = cancellation_pipeline(spark, QueryParams(mode="NOW")).count()
    journey = journey_side(spark)
    caching.release_tracked()
    assert not _persisted(journey)
    assert spark.sparkContext.applicationId not in cancellation._JOURNEY_CACHE
    # the next build persists a fresh journey side with the same result
    assert cancellation_pipeline(spark, QueryParams(mode="NOW")).count() == expected
    assert journey_side(spark) is not journey


def test_pipeline_memo_never_serves_a_released_journey(spark, sf_dir):
    """sf A -> sf B -> sf A: B's journey side replaces A's, so the
    pipeline memoized for A must be rebuilt over A's new journey side."""
    now, past = QueryParams(mode="NOW"), QueryParams(mode="PAST")
    load_tables(spark, SF_SMOKE)
    first = cancellation_pipeline(spark, now)
    load_tables(spark, sf_dir)
    cancellation_pipeline(spark, past)
    load_tables(spark, SF_SMOKE)
    again = cancellation_pipeline(spark, now)
    assert again is not first
    assert _persisted(journey_side(spark))
    testing.assert_oracle_parity(again, cancellation_oracle_sql(now), SF_SMOKE)
