"""``poll_cycle``: back-to-back production poll cycles with source churn.

One operation is one cycle as a poller whose source changed runs it:
``catalog.load_tables`` on the rewritten inputs, then
``streaming.poller.run_poll_cycle`` in NOW mode with a ``SnapshotStore``
and a parquet sink.  Before each cycle, outside its timer, the generator
advances ``now`` by the reference's 30 s poll interval and rewrites the
run's private ``events.parquet`` with a seeded ~10 % of departures
(``event_id % 1400``) withdrawn, restoring the previous cycle's.  Without
that churn every cycle after the first reports ``new == 0`` and the
diff's anti-join side goes unmeasured.

After each cycle, again outside its timer, ``total``, ``new`` and
``repeated`` are checked against DuckDB running
``cancellation_oracle_sql`` on the same files, with ``new`` counted by
``dvj_id`` against the previous cycle's oracle result.
"""

from __future__ import annotations

import datetime as dt
import os
import time

import numpy as np
import pyarrow.parquet as pq

from transitdata_omm_cancellation_source_spark import catalog, testing
from transitdata_omm_cancellation_source_spark.plans.cancellation import (
    QueryParams,
    cancellation_oracle_sql,
)
from transitdata_omm_cancellation_source_spark.streaming import poller

from spans import UNATTRIBUTED, wrap

#: departures are ``event_id % 1400`` in the OMM model; ~10 % withdrawn
DEPARTURES = 1400
WITHDRAWN = 140
POLL_INTERVAL = dt.timedelta(seconds=30)
START_NOW = dt.datetime(2024, 1, 15, 12, 0, 0)
#: set-up cycles: the first runs on a cold JVM, and cycle walls keep
#: dropping (~4.3 s to ~3.0 s here) while the JIT settles over the next few
WARMUP_CYCLES = 3

#: run_poll_cycle's own lookups, in the order one cycle enters them
_POLLER_NAMES = {
    "cancellation_pipeline": "plans.cancellation.build",
    "diff_counts": "operators.diff.collect",
    "encode_messages": "streaming.messages.sink",
}
#: every span of one cycle, in order
PHASES = (
    "catalog.load",
    "plans.cancellation.build",
    "streaming.poller.snapshot_read",
    "operators.diff.collect",
    "streaming.messages.sink",
    "streaming.poller.snapshot_replace",
)


class PollCycle:
    def __init__(self, run, seed: int):
        self.run = run
        self.rng = np.random.default_rng([seed, 1])
        self.sf_dir = run.data_dir
        self.events = pq.read_table(os.path.join(self.sf_dir, "events.parquet"))
        self.now = START_NOW
        self.cycles = 0
        self.new_after_first: list[int] = []
        self.load = catalog.load_tables
        self.store = poller.SnapshotStore(os.path.join(run.root, "snapshot"))
        self.sink_dir = os.path.join(run.root, "sink")
        self.prev_keys: set[str] | None = None

    # -- inputs -------------------------------------------------------------
    def _rewrite_events(self) -> None:
        withdrawn = self.rng.choice(DEPARTURES, WITHDRAWN, replace=False)
        ids = self.events["event_id"].to_numpy()
        keep = ~np.isin(ids % DEPARTURES, withdrawn)
        pq.write_table(
            self.events.filter(keep), os.path.join(self.sf_dir, "events.parquet")
        )

    def prepare(self) -> QueryParams:
        """Next cycle's parameters, with the source rewritten for it."""
        self.now += POLL_INTERVAL
        self._rewrite_events()
        return QueryParams(
            now=self.now.strftime("%Y-%m-%d %H:%M:%S"),
            today=self.now.strftime("%Y-%m-%d"),
            mode="NOW",
        )

    def instrument(self, phases) -> None:
        for name, phase in _POLLER_NAMES.items():
            setattr(poller, name, wrap(phases, phase, getattr(poller, name)))
        self.store.read = wrap(phases, "streaming.poller.snapshot_read",
                               self.store.read)
        self.store.replace = wrap(phases, "streaming.poller.snapshot_replace",
                                  self.store.replace, end_on_return=True)
        self.load = wrap(phases, "catalog.load", self.load, end_on_return=True)

    # -- one operation ------------------------------------------------------
    def warmup(self, spark) -> float:
        """The set-up's first cycles, from an empty snapshot; returns the
        seconds spent outside the engine (input rewrites and checks)."""
        outside = 0.0
        for _ in range(WARMUP_CYCLES):
            t0 = time.perf_counter()
            params = self.prepare()
            t1 = time.perf_counter()
            counts = self.op(spark, params)
            t2 = time.perf_counter()
            problems = self.check(params, counts)
            if problems:
                raise RuntimeError("set-up cycle check failed: " + "; ".join(problems))
            outside += (t1 - t0) + (time.perf_counter() - t2)
        return outside

    def op(self, spark, params: QueryParams) -> dict:
        self.load(spark, self.sf_dir)
        return poller.run_poll_cycle(
            spark, self.store, params, sink_dir=self.sink_dir,
            logger=self.run.quiet_logger,
        )

    def at_boundary(self) -> bool:
        return True

    def kind(self, params) -> str:
        return "cycle"

    def check(self, params: QueryParams, counts, wall: float = 0.0) -> list[str]:
        con = testing.duckdb_connection(self.sf_dir)
        try:
            keys = [r[0] for r in con.execute(
                f"SELECT dvj_id FROM ({cancellation_oracle_sql(params)})"
            ).fetchall()]
        finally:
            con.close()
        prev, self.prev_keys = self.prev_keys, set(keys)
        self.cycles += 1
        expected_new = len(keys) if prev is None else sum(k not in prev for k in keys)
        expected = {
            "total": len(keys),
            "new": expected_new,
            "repeated": len(keys) - expected_new,
        }
        if prev is not None:
            self.new_after_first.append(counts.get("new"))
        return [
            f"cycle {self.cycles} {k}: engine {counts.get(k)} != oracle {v}"
            for k, v in expected.items()
            if counts.get(k) != v
        ]

    def final_check(self, spark) -> tuple[int, list[str]]:
        return 0, []

    def layer_metrics(self, phases, per_phase: dict, ops: int) -> dict:
        out = {}
        for phase in PHASES:
            out[f"{phase}_s"] = phases.totals[phase] / ops
            out[f"{phase}.executor_s"] = per_phase[phase]["executor_run_s"] / ops
        out["poll.unattributed_s"] = phases.totals[UNATTRIBUTED] / ops
        out.update(self.state_sizes())
        return out

    def detail(self) -> dict:
        return {"cycles_checked": self.cycles,
                "new_after_first": self.new_after_first,
                **self.state_sizes()}

    def state_sizes(self) -> dict:
        sink_files = 0
        for _, _, files in os.walk(self.sink_dir):
            sink_files += sum(f.endswith(".parquet") for f in files)
        snap_bytes = 0
        for dirpath, _, files in os.walk(self.store.path):
            snap_bytes += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
        return {"streaming.sink_files": sink_files,
                "streaming.snapshot_bytes": snap_bytes}
