"""The bench entrypoint's idle-box preflight (r12 measurement-hygiene
lesson promoted to code): zombie Spark workers from a killed job
poisoned r12 wall clocks 2-60x, so bench.py now refuses to START
timing on a busy box until a bounded wait drains it, and annotates
the summary either way."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import bench


def test_idle_box_passes_immediately():
    out = bench.preflight_idle(read=lambda: 1.2, sleep=lambda s: None)
    assert out == {
        "load1_initial": 1.2,
        "load1_at_start": 1.2,
        "waited_sec": 0.0,
        "busy_box": False,
    }


def test_busy_box_waits_until_drained():
    readings = iter([9.0, 8.5, 5.1, 2.0])
    slept = []
    out = bench.preflight_idle(read=lambda: next(readings), sleep=slept.append)
    assert out["load1_initial"] == 9.0
    assert out["load1_at_start"] == 2.0
    assert out["waited_sec"] == 15.0
    assert out["busy_box"] is False
    assert slept == [5.0, 5.0, 5.0]


def test_stuck_busy_box_is_annotated_not_blocked():
    slept = []
    out = bench.preflight_idle(
        read=lambda: 30.0, sleep=slept.append, wait_max=20.0
    )
    assert out["busy_box"] is True
    assert out["waited_sec"] == 20.0
    assert out["load1_at_start"] == 30.0


def test_real_loadavg_reader_returns_float():
    assert isinstance(bench.read_load1(), float)


# --- steal-aware GEMM bracketing (r13 verdict #2) ---------------------------
# loadavg cannot see hypervisor steal: BENCH_r13 recorded
# ``busy_box: false`` on a run whose every query drifted a uniform
# +27%.  The bench now brackets the timed region with fixed-shape GEMM
# probes so a degraded run is machine-readable as degraded.


def test_gemm_bracket_healthy():
    out = bench.gemm_bracket(420.0, 390.0, floor=150.0)
    assert out == {
        "start_gflops": 420.0,
        "end_gflops": 390.0,
        "floor_gflops": 150.0,
        "degraded": False,
    }


def test_gemm_bracket_flags_either_probe_below_floor():
    # steal oscillates: a healthy START proves nothing about the
    # interval (r13 run 5 launched at 532 GFLOP/s, finished at 17.7).
    assert bench.gemm_bracket(532.0, 17.7, floor=150.0)["degraded"] is True
    assert bench.gemm_bracket(54.0, 440.0, floor=150.0)["degraded"] is True


def test_gemm_bracket_default_floor_from_module():
    out = bench.gemm_bracket(200.0, 200.0)
    assert out["floor_gflops"] == bench.GEMM_FLOOR_GFLOPS


def test_real_gemm_probe_measures_positive_throughput():
    # tiny shape: this asserts the probe RUNS, not the box's health.
    assert bench.gemm_gflops(n=128, reps=1) > 0.0


# --- r15: the probe GATES the timed region ----------------------------------


def test_wait_for_healthy_gemm_immediate():
    out = bench.wait_for_healthy_gemm(
        probe=lambda: 400.0, sleep=lambda s: None, floor=150.0
    )
    assert out == {
        "gflops": 400.0, "probes": 1, "waited_sec": 0.0, "healthy": True,
    }


def test_wait_for_healthy_gemm_waits_out_a_storm():
    readings = iter([20.0, 35.0, 180.0])
    slept = []
    out = bench.wait_for_healthy_gemm(
        probe=lambda: next(readings), sleep=slept.append, floor=150.0
    )
    assert out["healthy"] is True and out["gflops"] == 180.0
    assert out["probes"] == 3 and slept == [15.0, 15.0]


def test_wait_for_healthy_gemm_bounded_negative():
    """Budget expires below the floor: proceed anyway, annotated —
    driver runs must always produce a JSON line."""
    out = bench.wait_for_healthy_gemm(
        probe=lambda: 20.0, sleep=lambda s: None, floor=150.0,
        wait_max=45.0, interval=15.0,
    )
    assert out["healthy"] is False
    assert out["waited_sec"] == 45.0


def _bracket(lo, hi, floor=150.0):
    return bench.gemm_bracket(lo, hi, floor)


def test_select_passes_prefers_healthy():
    """A pass whose closing probe collapsed is excluded from the
    best-of when any healthy pass exists — steal can only SLOW a
    query, so a degraded pass's smaller timing would be a lie only in
    the other direction; exclusion keeps the estimator clean."""
    degraded_pass = ({"q1": 1.0, "q2": 9.9}, _bracket(400.0, 20.0))
    healthy_pass = ({"q1": 2.0, "q2": 3.0}, _bracket(400.0, 380.0))
    timings, degraded, used = bench.select_passes(
        [degraded_pass, healthy_pass]
    )
    assert timings == {"q1": 2.0, "q2": 3.0}
    assert degraded is False and used == 1


def test_select_passes_merges_multiple_healthy():
    a = ({"q1": 2.0, "q2": 3.0}, _bracket(400.0, 380.0))
    b = ({"q1": 1.5, "q2": 3.5}, _bracket(300.0, 350.0))
    timings, degraded, used = bench.select_passes([a, b])
    assert timings == {"q1": 1.5, "q2": 3.0}
    assert degraded is False and used == 2


def test_select_passes_all_degraded_is_flagged():
    a = ({"q1": 2.0}, _bracket(20.0, 30.0))
    b = ({"q1": 1.8}, _bracket(25.0, 10.0))
    timings, degraded, used = bench.select_passes([a, b])
    assert timings == {"q1": 1.8}
    assert degraded is True and used == 2


# ---------------------------------------------------------------------------
# r16: final-line byte budget (headline set must ALWAYS fit) and the
# release-contract registries the bench summary reports against.
# ---------------------------------------------------------------------------


def test_headline_set_always_fits_tail_budget():
    """The r15 failure mode: the final JSON line silently shed two
    HEADLINE queries when the budget ran out.  The budget math must
    hold even when every headline query is slow (extra digit) and the
    scalar fields take their widest plausible values."""
    import json

    summary = {
        "metric": "headline_queries_total_wall",
        "value": 99999.999,
        "unit": "sec",
        "sf": 125.0,
        "queries": {
            n: 99.99
            for n in dict.fromkeys([*bench.FLAGSHIPS, *bench.HEADLINE])
        },
        "queries_timed": 110,
        "full_detail": "BENCH_FULL_c32.json",
        "batch_total": 99999.999,
        "flagship_slo_ok": False,
        "disk_artifacts_served": [
            "band_frame",
            "cosine_vb",
            "embedding_ivf_assign",
            "shingle_sets",
        ],
        "degraded": True,
    }
    line = bench._compact(summary)
    assert len(line) <= bench.TAIL_BUDGET
    # and the budget itself respects the measured driver hard limit
    # (2000 chars INCLUDING the trailing newline).
    assert bench.TAIL_BUDGET + 1 <= 2000
    assert json.loads(line)["queries"]  # round-trips


def test_value_memo_registry_survives_release_and_clears_explicitly(spark):
    from transitdata_omm_cancellation_source_spark import caching
    from transitdata_omm_cancellation_source_spark.artifacts import stored_value

    src = spark.range(3)
    calls = []

    def compute():
        calls.append(1)
        return 42

    assert stored_value("survive_probe", src, compute) == 42
    caching.release_tracked()
    assert stored_value("survive_probe", src, compute) == 42
    assert len(calls) == 1, "stored values must survive release_tracked"
    caching.clear_value_memos()
    assert stored_value("survive_probe", src, compute) == 42
    assert len(calls) == 2, "clear_value_memos must drop stored values"


def test_clear_value_memos_recomputes_every_value_producer(spark, monkeypatch):
    """Every value and trained-rows producer serves from memory across
    release_tracked, and recomputes (or reloads) after
    clear_value_memos()."""
    from transitdata_omm_cancellation_source_spark import artifacts, caching
    from transitdata_omm_cancellation_source_spark.catalog import load_tables
    from transitdata_omm_cancellation_source_spark.operators import (
        dedup_fuzzy,
        graph,
        pca,
        pq,
        similarity,
    )

    from conftest import SF_SMOKE

    t = load_tables(spark, SF_SMOKE)
    sh = dedup_fuzzy._minhash_shingles(t)
    items = t["lineitem"].select("l_orderkey", "l_partkey")
    producers = {
        "corpus_count": lambda: similarity.corpus_count(spark, t["embeddings"]),
        "ivf_quantizer": lambda: similarity.ivf_quantizer(spark, t),
        "pq_codebook": lambda: pq._shared_codebook(spark, pq._vectors(t)),
        "max_abs_u": lambda: pca.corpus_max_abs_u(spark, t["embeddings"]),
        "pagerank_passes": lambda: graph._pagerank_pass_count(spark, items),
        "hot_shingles": lambda: dedup_fuzzy._hot_shingles(sh),
        "ngram_passes": lambda: dedup_fuzzy._ngram_pass_count(spark, sh),
    }
    loads = []
    serve = artifacts._serve

    def spy(kind, name, source, extra, load):
        def counted():
            loads.append(name)
            return load()

        return serve(kind, name, source, extra, counted)

    monkeypatch.setattr(artifacts, "_serve", spy)

    def run_all():
        loads.clear()
        for produce in producers.values():
            produce()
        return set(loads)

    run_all()
    assert run_all() == set(), "a second use must be served from memory"
    caching.release_tracked()
    assert run_all() == set(), "values and trained rows survive release"
    caching.clear_value_memos()
    assert run_all() >= set(producers)
