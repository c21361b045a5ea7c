"""Run conditions, recorded with every result and never used to gate it."""

from __future__ import annotations

import os
import subprocess

from bench import gemm_gflops


def _load1() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def _git_commit(checkout: str) -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", checkout, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    if out.returncode != 0:
        return None
    return out.stdout.strip() or None


def before(checkout: str) -> dict:
    """Conditions at the start of a run (before any engine work)."""
    import pyarrow
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "load1_before": _load1(),
        "gemm_gflops": gemm_gflops(),
        "spark_version": pyspark.__version__,
        "pyarrow_version": pyarrow.__version__,
        "git_commit": _git_commit(checkout),
    }


def after(conditions: dict) -> dict:
    return dict(conditions, load1_after=_load1())
