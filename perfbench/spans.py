"""Layer attribution from outside the engine.

Two sources, both owned by the benchmark:

- ``Phases`` marks which layer the driver thread is in.  A mark starts a
  span on the wall clock and sets the Spark local property
  ``perfbench.phase``, which Spark copies into every job started from this
  thread (broadcast and AQE stage jobs included), so each job lands in the
  phase that was entered last.  Spans are sequential, so a span's self time
  is its duration.
- ``read_event_log`` folds the Spark event log (written only in traced
  runs, into the run's own directory) into per-phase stage metrics: jobs,
  stages, tasks, executor run/CPU/GC time, shuffle, spill and the bytes
  exchanged with Python workers.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict

PHASE_PROPERTY = "perfbench.phase"
UNATTRIBUTED = "unattributed"
#: between operations: input preparation and output checks
OUTSIDE = "outside"

#: run-level stage metrics, reported per operation as ``spark.<name>``
SPARK_METRICS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "python_sent_bytes", "python_received_bytes",
)

#: task accumulables whose sums are reported as Python-worker traffic
_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"


class Phases:
    """Sequential phase timeline of the driver thread.

    ``prefix`` is prepended to every phase name, so set-up work can be
    told apart from the measured region; ``bind`` attaches the session
    whose jobs carry the phase.
    """

    def __init__(self):
        self._sc = None
        self.prefix = ""
        self.totals: dict[str, float] = defaultdict(float)
        self._current = OUTSIDE
        self._since = time.perf_counter()

    def bind(self, spark) -> None:
        self._sc = spark.sparkContext

    def mark(self, name: str) -> None:
        now = time.perf_counter()
        self.totals[self._current] += now - self._since
        self._current, self._since = self.prefix + name, now
        if self._sc is not None:
            self._sc.setLocalProperty(PHASE_PROPERTY, self._current)


def wrap(phases: Phases, name: str, fn, end_on_return: bool = False):
    """``fn`` with a phase mark on entry (and on return, if asked).

    Functions that hand back a lazy plan leave the phase open, so the
    action that follows in the caller is charged to them.
    """

    def wrapped(*args, **kwargs):
        phases.mark(name)
        try:
            return fn(*args, **kwargs)
        finally:
            if end_on_return:
                phases.mark(UNATTRIBUTED)

    wrapped.__wrapped__ = fn
    return wrapped


def _empty() -> dict:
    return defaultdict(float)


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per-phase stage metrics from every event log in ``log_dir``."""
    job_phase: dict[int, str] = {}
    stage_phase: dict[int, str] = {}
    per_phase: dict[str, dict] = defaultdict(_empty)
    paths = glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
    for path in sorted(p for p in paths if os.path.isfile(p)):
        if os.path.basename(path).startswith("appstatus"):
            continue
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    phase = (ev.get("Properties") or {}).get(
                        PHASE_PROPERTY, UNATTRIBUTED
                    )
                    job_phase[ev["Job ID"]] = phase
                    for sid in ev.get("Stage IDs", []):
                        stage_phase.setdefault(sid, phase)
                    per_phase[phase]["jobs"] += 1
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    per_phase[stage_phase.get(sid, UNATTRIBUTED)]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    phase = stage_phase.get(ev.get("Stage ID"), UNATTRIBUTED)
                    for key, value in _task_metrics(ev).items():
                        per_phase[phase][key] += value
    return per_phase


def _task_metrics(ev: dict) -> dict:
    m = ev.get("Task Metrics") or {}
    shuffle_read = m.get("Shuffle Read Metrics") or {}
    shuffle_write = m.get("Shuffle Write Metrics") or {}
    out = {
        "tasks": 1,
        "executor_run_s": m.get("Executor Run Time", 0) / 1e3,
        "executor_cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "gc_s": m.get("JVM GC Time", 0) / 1e3,
        "shuffle_read_bytes": shuffle_read.get("Remote Bytes Read", 0)
        + shuffle_read.get("Local Bytes Read", 0),
        "shuffle_write_bytes": shuffle_write.get("Shuffle Bytes Written", 0),
        "spill_bytes": m.get("Memory Bytes Spilled", 0)
        + m.get("Disk Bytes Spilled", 0),
        "python_sent_bytes": 0,
        "python_received_bytes": 0,
    }
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        name, update = acc.get("Name"), acc.get("Update")
        if name == _PY_SENT:
            out["python_sent_bytes"] += int(update)
        elif name == _PY_RECV:
            out["python_received_bytes"] += int(update)
    return out
