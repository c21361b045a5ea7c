"""Benchmark entry point: one workload, one seed, one result line.

    python3 perfbench/run.py --workload poll_cycle --seed 1 --seconds 20 --trace 0

Run from the repository root.  The run generates its inputs from the seed,
starts the engine's own session (``session.get_spark``) at
``local[$SPARK_GRAFT_CPUS]`` (default 4) and runs the workload's warm-up
(the set-up), runs the workload's operations back to back until
``--seconds`` of operation time are measured, checks every output outside
the timers, and prints a detail line and then the result line.  Everything the run writes
(inputs, warehouse, artifacts, snapshot, sink, Spark scratch, event log)
lives under one directory in ``.perfbench-runs/`` that is removed at the
end.  See ``perfbench/README.md`` for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import gc
import json
import logging
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

from py4j.protocol import Py4JError

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
sys.path.insert(1, CHECKOUT)

import conditions  # noqa: E402
import datagen  # noqa: E402
import layers  # noqa: E402
import spans  # noqa: E402
from poll import PollCycle  # noqa: E402
from registry import RegistrySweep  # noqa: E402

#: input scale per workload (sf 0.1 = 600k lineitems, 100k events)
SCALE = {"poll_cycle": 0.1, "registry_sweep": 0.01}
WORKLOADS = tuple(SCALE)
#: collection rounds before the live heap is read (it settles by the third)
LIVE_HEAP_GCS = 5
#: end-to-end metrics, measured with tracing off
END_TO_END = {
    "setup_s": "s",
    "round_s": "s",
    "ops_per_s": "1/s",
    "jvm_live_heap_mb": "MB",
}


class Run:
    """Paths, environment and Spark session of one benchmark run."""

    def __init__(self, workload: str, seed: int, traced: bool):
        self.workload, self.seed, self.traced = workload, seed, traced
        self.root = os.path.join(
            CHECKOUT, ".perfbench-runs", f"{workload}-{seed}-{os.getpid()}"
        )
        shutil.rmtree(self.root, ignore_errors=True)
        self.data_dir = os.path.join(self.root, "data")
        self.event_log_dir = os.path.join(self.root, "eventlog")
        for sub in ("data", "tmp", "local", "warehouse", "eventlog"):
            os.makedirs(os.path.join(self.root, sub), exist_ok=True)
        self.quiet_logger = logging.getLogger("perfbench.engine")
        self.quiet_logger.addHandler(logging.NullHandler())
        self.quiet_logger.propagate = False
        self.spark = None
        self._gateway = None

    def environment(self) -> None:
        os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
        os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")
        tmp = os.path.join(self.root, "tmp")
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.root, "local")
        # Python workers import the engine by name
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (CHECKOUT, HERE, os.environ.get("PYTHONPATH")) if p
        )
        confs = {
            "spark.sql.warehouse.dir": os.path.join(self.root, "warehouse"),
            "spark.local.dir": os.path.join(self.root, "local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.traced:
            confs.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        args = []
        for key, value in confs.items():
            args += ["--conf", f"{key}={value}"]
        os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])

    def start_session(self):
        from pyspark import SparkContext
        from transitdata_omm_cancellation_source_spark.session import get_spark

        spark = get_spark(app_name=f"perfbench-{self.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        self._gateway = SparkContext._gateway
        # a private, empty artifact store: its builds land in setup_s
        spark.conf.set("spark.graft.artifacts.dir", os.path.join(self.root, "artifacts"))
        self.spark = spark
        return spark

    def jvm_memory_mb(self, spark) -> tuple[float, float]:
        """(live heap after a full GC, peak RSS) of the Spark JVM, in MB."""
        jvm = spark.sparkContext._jvm
        runtime = jvm.java.lang.Runtime.getRuntime()
        live = float("inf")
        # JVM objects stay reachable while a Python proxy of theirs waits
        # for Python's cycle collector, and Spark's cleaner frees blocks
        # only after a JVM GC: alternate both until the heap settles
        for _ in range(LIVE_HEAP_GCS):
            gc.collect()
            jvm.java.lang.System.gc()
            time.sleep(0.4)
            live = min(live, (runtime.totalMemory() - runtime.freeMemory()) / 2**20)
        pid = jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return live, int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from JVM status")

    def stop(self, spark) -> None:
        """Stop the session, then the JVM it runs in, and wait for both."""
        if spark is not None:
            spark.stop()
        gateway = self._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        except Py4JError:  # gateway already gone: the JVM is what matters
            pass
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)

    def cleanup(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        parent = os.path.dirname(self.root)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def layer_metrics(workload, phases, log_dir: str, op_s: list[float]) -> dict:
    """Per-layer metrics of the measured region, per operation."""
    per_phase = spans.read_event_log(log_dir)
    ops = len(op_s)
    measured = {}
    for phase, m in per_phase.items():
        if phase.startswith("setup:") or phase == spans.OUTSIDE:
            continue
        for key, value in m.items():
            measured[key] = measured.get(key, 0.0) + value
    values = {f"spark.{k}": measured.get(k, 0.0) / ops for k in spans.SPARK_METRICS}
    values.update(workload.layer_metrics(phases, per_phase, ops))
    in_spans = sum(
        t for p, t in phases.totals.items()
        if not p.startswith("setup:") and p not in (spans.OUTSIDE, spans.UNATTRIBUTED)
    )
    values["unattributed_share"] = 1.0 - in_spans / sum(op_s)
    return {name: (values.get(name, 0.0), unit) for name, unit in layers.PER_LAYER.items()}


def _make_workload(run: Run):
    if run.workload == "poll_cycle":
        return PollCycle(run, run.seed)
    return RegistrySweep(run, run.seed)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    t_start = time.perf_counter()
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run = Run(args.workload, args.seed, bool(args.trace))
    spark = None
    try:
        run.environment()
        before = conditions.before(CHECKOUT)
        datagen.generate(run.data_dir, args.seed, SCALE[args.workload])
        workload = _make_workload(run)
        phases = spans.Phases() if run.traced else None

        # set-up: session start (JVM launch included), private state,
        # catalog load and the workload's warm-up operations
        t0 = time.perf_counter()
        if phases is not None:
            phases.prefix = "setup:"
            phases.mark("session")
        spark = run.start_session()
        if phases is not None:
            phases.bind(spark)
            workload.instrument(phases)
        untimed = workload.warmup(spark)
        setup_s = time.perf_counter() - t0 - untimed
        if phases is not None:
            phases.mark(spans.OUTSIDE)
            phases.prefix = ""

        op_s: list[float] = []
        by_kind: dict[str, list[float]] = {}
        failed = 0
        measured = 0.0
        while measured < args.seconds or not workload.at_boundary():
            x = workload.prepare()
            if phases is not None:
                phases.mark(spans.UNATTRIBUTED)
            t0 = time.perf_counter()
            try:
                result = workload.op(spark, x)
                ok = True
            except Exception as exc:  # a failed operation is counted, not fatal
                result, ok = exc, False
            wall = time.perf_counter() - t0
            if phases is not None:
                phases.mark(spans.OUTSIDE)
            measured += wall
            op_s.append(wall)
            by_kind.setdefault(workload.kind(x), []).append(wall)
            problems = workload.check(x, result, wall) if ok else [repr(result)]
            if problems:
                failed += 1
                print(json.dumps({"failed_op": problems}), file=sys.stderr)
        wrong, problems = workload.final_check(spark)
        failed += wrong
        live_heap, peak_rss = run.jvm_memory_mb(spark)
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "traced": run.traced,
            "setup_s": round(setup_s, 4),
            "jvm_peak_rss_mb": round(peak_rss, 1),
            "op_s": [round(s, 4) for s in op_s],
            "output_problems": problems,
            **workload.detail(),
        }
        run.stop(spark)
        spark = None

        if run.traced:
            metrics = layer_metrics(workload, phases, run.event_log_dir, op_s)
            detail["phases_s"] = {k: round(v, 4) for k, v in phases.totals.items()}
        else:
            # a round is one operation of each kind: a poll cycle, or one
            # pass over the registry subset.  Weighting each kind once keeps
            # both figures independent of how often each query ran.
            values = {
                "setup_s": setup_s,
                "round_s": sum(statistics.median(w) for w in by_kind.values()),
                "ops_per_s": len(by_kind) / sum(statistics.fmean(w) for w in by_kind.values()),
                "jvm_live_heap_mb": live_heap,
            }
            metrics = {k: (values[k], unit) for k, unit in END_TO_END.items()}
        detail["conditions"] = conditions.after(before)
        detail["wall_s"] = round(time.perf_counter() - t_start, 2)
        result = {
            "correct": failed == 0,
            "attempted": len(op_s),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        print(json.dumps(detail, default=str))
        print(json.dumps(result))
        return 0
    finally:
        try:
            if spark is not None:
                run.stop(spark)
        finally:
            run.cleanup()


if __name__ == "__main__":
    sys.exit(main())
