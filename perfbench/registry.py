"""``registry_sweep``: seeded-order sweeps over a fixed registry subset.

One operation is one registry query, built by its registry builder and
materialized with a ``noop`` write (every projected column computed, as
``bench.py`` does).  A sweep runs each query of ``split.BENCHED`` once in
an order drawn from the run's seed; before every timed sweep the tracked
persists are released and Spark's cache cleared (``caching.release_tracked``
and ``clearCache``, as ``bench.py`` does between passes).  The run stops
once ``--seconds`` are measured and at least one whole sweep is done.

The set-up runs two passes, the first with an empty private artifact
store, so the disk artifacts the subset needs are built there and served
warm by the timed sweeps.  After the timed sweeps, outside every timer, each query's output
is compared with DuckDB running its ``oracle_sql()`` through
``testing.compare_frames``; every timed run of a query whose output
differs counts as a failed operation.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

from transitdata_omm_cancellation_source_spark import artifacts, caching, testing
from transitdata_omm_cancellation_source_spark.plans import queries as registry

import split
from spans import UNATTRIBUTED

_PACKAGE = "transitdata_omm_cancellation_source_spark."
#: set-up passes; query walls still fall ~30 % from the second pass to the
#: sixth, so a single pass left the timed medians riding the JIT curve
WARMUP_PASSES = 2


def defining_module(name: str) -> str:
    """Module (relative to the package) whose function builds ``name``."""
    build = registry.REGISTRY[name].build
    code = build.__code__
    if build.__closure__ and "fn" in code.co_freevars:
        fn = build.__closure__[code.co_freevars.index("fn")].cell_contents
        module = fn.__module__
    else:
        module = build.__module__
    return module.removeprefix(_PACKAGE)


def benched_modules() -> list[str]:
    return sorted({defining_module(n) for n in split.BENCHED})


def unbenched() -> list[str]:
    """Registry queries that are in neither side of the pinned partition."""
    known = set(split.KERNELS) | set(split.RELATIONAL)
    return [n for n in registry.queries() if n not in known]


class RegistrySweep:
    def __init__(self, run, seed: int):
        self.run = run
        self.sf_dir = run.data_dir
        self.rng = np.random.default_rng([seed, 2])
        self.names = list(split.BENCHED)
        self.modules = {n: defining_module(n) for n in self.names}
        self.kernel = {n: n in split.KERNELS for n in self.names}
        self.phases = None
        self.queue: list[str] = []
        self.walls: dict[str, list[float]] = {n: [] for n in self.names}
        self.sweep_walls: list[float] = []
        self.release_s: list[float] = []
        self.artifact_build_s = 0.0
        self.setup_serves: list[dict] = []
        self.timed_serves_mark = 0

    def instrument(self, phases) -> None:
        """Phase marks around build and execution, plus artifact build time."""
        self.phases = phases
        for attr in ("_invoke_trainer", "_invoke_frame_builder"):
            setattr(artifacts, attr, self._timed_build(getattr(artifacts, attr)))

    def _timed_build(self, fn):
        def wrapped(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.artifact_build_s += time.perf_counter() - t0

        return wrapped

    # -- operations ---------------------------------------------------------
    def _order(self) -> list[str]:
        return [self.names[i] for i in self.rng.permutation(len(self.names))]

    def warmup(self, spark) -> float:
        """Passes over the subset from a cold engine state: the first builds
        the artifacts, the next lets the JIT settle before the clock starts."""
        mark = len(artifacts.SERVE_EVENTS)
        for _ in range(WARMUP_PASSES):
            for name in self._order():
                self.op(spark, name)
        self.setup_serves = artifacts.SERVE_EVENTS[mark:]
        self.timed_serves_mark = len(artifacts.SERVE_EVENTS)
        return 0.0

    def prepare(self) -> str:
        if not self.queue:
            t0 = time.perf_counter()
            caching.release_tracked()
            self.run.spark.catalog.clearCache()
            self.release_s.append(time.perf_counter() - t0)
            self.queue = self._order()
            self.sweep_walls.append(0.0)
        return self.queue.pop()

    def at_boundary(self) -> bool:
        """Stop only after one whole sweep, so every query is timed."""
        return len(self.sweep_walls) > 1 or not self.queue

    def kind(self, name: str) -> str:
        return name

    def op(self, spark, name: str) -> None:
        module = self.modules[name]
        if self.phases is not None:
            self.phases.mark(f"{module}.build")
        df = registry.REGISTRY[name].build(spark, self.sf_dir)
        if self.phases is not None:
            self.phases.mark(f"{module}.exec")
        df.write.mode("overwrite").format("noop").save()
        if self.phases is not None:
            self.phases.mark(UNATTRIBUTED)

    def check(self, name: str, result, wall: float) -> list[str]:
        self.walls[name].append(wall)
        self.sweep_walls[-1] += wall
        return []

    def final_check(self, spark) -> tuple[int, list[str]]:
        """Compare every query's output with its oracle; failed timed ops."""
        con = testing.duckdb_connection(self.sf_dir)
        failed, problems = 0, []
        try:
            for name in self.names:
                spark_pdf = registry.REGISTRY[name].build(spark, self.sf_dir).toPandas()
                oracle_pdf = con.execute(registry.REGISTRY[name].oracle).df()
                diff = testing.compare_frames(spark_pdf, oracle_pdf)
                if diff:
                    failed += len(self.walls[name])
                    problems.append(f"{name}: {diff[:3]}")
        finally:
            con.close()
        return failed, problems

    # -- reporting ----------------------------------------------------------
    def _timed_serves(self) -> list[dict]:
        return artifacts.SERVE_EVENTS[self.timed_serves_mark:]

    def detail(self) -> dict:
        return {
            "queries": self.names,
            "sweep_s": [round(s, 4) for s in self.sweep_walls],
            "caching.release_s": [round(s, 4) for s in self.release_s],
            "setup_artifacts": self.setup_serves,
            "timed_artifacts": self._timed_serves(),
            "unbenched": unbenched(),
        }

    def layer_metrics(self, phases, per_phase: dict, ops: int) -> dict:
        """Per typical sweep: each query counted once, at its mean."""
        sweeps = ops / len(self.names)
        out: dict[str, float] = {}
        for module in benched_modules():
            queries = [n for n in self.names if self.modules[n] == module]
            per_sweep = len(queries) / sum(len(self.walls[n]) for n in queries)
            build, run = f"{module}.build", f"{module}.exec"
            out[f"{build}_s"] = phases.totals[build] * per_sweep
            out[f"{run}_s"] = phases.totals[run] * per_sweep
            out[f"{module}.jobs"] = (
                per_phase[build]["jobs"] + per_phase[run]["jobs"]
            ) * per_sweep
        for side, flag in (("kernel", True), ("relational", False)):
            out[f"registry.{side}_s"] = sum(
                statistics.fmean(self.walls[n]) for n in self.names if self.kernel[n] == flag
            )
        out["registry.unattributed_s"] = phases.totals[UNATTRIBUTED] / sweeps
        out["caching.release_s"] = statistics.fmean(self.release_s)
        # builds belong to the set-up; the timed sweeps should only serve
        out["artifacts.built"] = sum(e["served"] == "built" for e in self.setup_serves)
        out["artifacts.build_s"] = self.artifact_build_s
        out["artifacts.served_disk"] = sum(
            e["served"] == "disk" for e in self._timed_serves()
        ) / sweeps
        return out
