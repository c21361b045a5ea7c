"""PageRank edge semantics on hand-computable graphs: the exact
integer micro-unit fixed point, hub dominance, and tie-break order.
"""

from __future__ import annotations

from transitdata_omm_cancellation_source_spark.operators.graph import _pagerank


def _li(spark, rows):
    return spark.createDataFrame(rows, "l_orderkey long, l_partkey long")


def test_symmetric_pair_is_the_exact_fixed_point(spark):
    # one order with two parts: each node's whole mass flows to the
    # other, so 150000 + (85 * 1_000_000) div 100 = 1_000_000 exactly —
    # the integer update has a true fixed point, no drift over rounds.
    out = _pagerank(spark, {"lineitem": _li(spark, [(1, 10), (1, 20)])}).collect()
    assert [(r.part, r.rank_micro, r.rnk) for r in out] == [
        (10, 1_000_000, 1),
        (20, 1_000_000, 2),
    ]


def test_hub_accumulates_rank_with_exact_integer_values(spark):
    # star graph: A co-occurs with B (order 1) and C (order 2).  Three
    # integer power-iteration rounds give exactly 1741625 / 629187 —
    # computed by hand, pinned to the last micro-unit (any float or
    # rounding difference would shift these).
    li = _li(spark, [(1, 100), (1, 200), (2, 100), (2, 300)])
    out = _pagerank(spark, {"lineitem": li}).collect()
    assert [(r.part, r.rank_micro, r.rnk) for r in out] == [
        (100, 1_741_625, 1),
        (200, 629_187, 2),  # partkey breaks the B/C tie
        (300, 629_187, 3),
    ]


def test_bounded_scratch_passes_are_bit_identical(spark):
    """K-pass edge build == 1-pass, bit-for-bit (pass k aggregates the
    FULL weight of every pair whose dst is in range k, and a pair's
    dst lives in exactly one range), including the checkpointed
    supersteps the scratch mode adds.  Alongside the ngram pin in
    tests/test_ngram_passes.py."""
    import numpy as np

    from transitdata_omm_cancellation_source_spark.operators.graph import (
        _PR_PASSES_CONF,
    )

    rng = np.random.default_rng(7)
    rows = [
        (int(o), int(p))
        for o in range(1, 60)
        for p in rng.choice(np.arange(10, 40), size=rng.integers(2, 6), replace=False)
    ]
    t = {"lineitem": _li(spark, rows)}
    results = []
    for k in ("1", "3", "0"):  # forced single, forced K, estimator
        spark.conf.set(_PR_PASSES_CONF, k)
        try:
            results.append(
                sorted(map(tuple, _pagerank(spark, t).collect()))
            )
        finally:
            spark.conf.unset(_PR_PASSES_CONF)
    assert results[0] == results[1] == results[2]
    assert len(results[0]) > 10  # non-vacuous


def test_pagerank_pass_count_estimator_and_conf_validation(spark):
    import pytest

    from transitdata_omm_cancellation_source_spark.operators.graph import (
        _PR_PASSES_CONF,
        _PR_SCRATCH_GB_CONF,
        _PR_SPILL_BYTES_PER_PAIR,
        _pagerank_pass_count,
    )

    # 4 orders x 3 parts = 3 pairs each -> 12 pair rows
    rows = [(o, p) for o in range(4) for p in (1, 2, 3)]
    items = _li(spark, rows)
    assert _pagerank_pass_count(spark, items) == 1  # default budget
    tiny_gb = 6 * _PR_SPILL_BYTES_PER_PAIR / 2**30  # budget for 6 rows
    spark.conf.set(_PR_SCRATCH_GB_CONF, str(tiny_gb))
    try:
        assert _pagerank_pass_count(spark, items) == 2
        spark.conf.set(_PR_PASSES_CONF, "5")
        assert _pagerank_pass_count(spark, items) == 5  # forced wins
        spark.conf.set(_PR_PASSES_CONF, "zap")
        with pytest.raises(ValueError, match="integer pass count"):
            _pagerank_pass_count(spark, items)
        spark.conf.unset(_PR_PASSES_CONF)
        spark.conf.set(_PR_SCRATCH_GB_CONF, "-1")
        with pytest.raises(ValueError, match="positive"):
            _pagerank_pass_count(spark, items)
        spark.conf.set(_PR_SCRATCH_GB_CONF, "wat")
        with pytest.raises(ValueError, match="GiB"):
            _pagerank_pass_count(spark, items)
    finally:
        for key in (_PR_PASSES_CONF, _PR_SCRATCH_GB_CONF):
            try:
                spark.conf.unset(key)
            except Exception:
                pass


def test_broadcast_guard_raises_past_budget_and_validates_conf(spark):
    """r13 verdict #3: the scratch-mode superstep broadcast hint is
    node-sized — past the configured budget the build must fail with
    an actionable message, never hint the executor into an OOM."""
    import pytest

    from transitdata_omm_cancellation_source_spark.operators.graph import (
        _PR_BCAST_BYTES_PER_NODE,
        _PR_BCAST_GB_CONF,
        _PR_BCAST_GB_DEFAULT,
        _guard_rank_broadcast,
    )

    # under the default budget: no-op
    _guard_rank_broadcast(spark, 25_000_000)  # the measured sf125 point
    over = int(_PR_BCAST_GB_DEFAULT * 2**30 // _PR_BCAST_BYTES_PER_NODE) + 1
    with pytest.raises(ValueError, match="cluster run with scratch mode off"):
        _guard_rank_broadcast(spark, over)
    spark.conf.set(_PR_BCAST_GB_CONF, "0.000001")
    try:
        with pytest.raises(ValueError, match="broadcastBudgetGb budget"):
            _guard_rank_broadcast(spark, 1_000_000)
        spark.conf.set(_PR_BCAST_GB_CONF, "lots")
        with pytest.raises(ValueError, match="GiB"):
            _guard_rank_broadcast(spark, 1)
    finally:
        spark.conf.unset(_PR_BCAST_GB_CONF)


def test_known_pass_count_skips_the_proxy_job(spark):
    """r13 ADVICE: a forced conf or a stored count must answer without
    any Spark job — repeated builds were paying the estimator's fact
    count the store exists to avoid."""
    from transitdata_omm_cancellation_source_spark.caching import (
        clear_value_memos,
    )
    from transitdata_omm_cancellation_source_spark.operators.graph import (
        _PR_PASSES_CONF,
        _pagerank_pass_count,
    )

    def proxy():
        raise AssertionError("a known pass count must not run the proxy")

    clear_value_memos()
    items = _li(spark, [(1, 10), (1, 20)])
    spark.conf.set(_PR_PASSES_CONF, "4")
    try:
        assert _pagerank_pass_count(spark, items, proxy) == 4
    finally:
        spark.conf.unset(_PR_PASSES_CONF)
    # the first estimate runs the proxy; the stored count answers after
    runs = []
    assert _pagerank_pass_count(spark, items, lambda: runs.append(1)) == 1
    assert runs == [1]
    assert _pagerank_pass_count(spark, items, proxy) == 1
