"""Names and units of every per-layer metric (the traced run's output).

Each workload reports every name; a layer the workload does not touch
reads 0.
"""

from __future__ import annotations

from poll import PHASES as POLL_PHASES
from registry import benched_modules
from spans import SPARK_METRICS


def _spark_unit(name: str) -> str:
    if name in ("jobs", "stages", "tasks"):
        return "count"
    return "s" if name.endswith("_s") else "bytes"


PER_LAYER: dict[str, str] = {f"spark.{m}": _spark_unit(m) for m in SPARK_METRICS}
PER_LAYER["unattributed_share"] = "ratio"
for _phase in POLL_PHASES:
    PER_LAYER[f"{_phase}_s"] = "s"
    PER_LAYER[f"{_phase}.executor_s"] = "s"
PER_LAYER["poll.unattributed_s"] = "s"
PER_LAYER["streaming.sink_files"] = "count"
PER_LAYER["streaming.snapshot_bytes"] = "bytes"
for _module in benched_modules():
    PER_LAYER[f"{_module}.build_s"] = "s"
    PER_LAYER[f"{_module}.exec_s"] = "s"
    PER_LAYER[f"{_module}.jobs"] = "count"
PER_LAYER["registry.kernel_s"] = "s"
PER_LAYER["registry.relational_s"] = "s"
PER_LAYER["registry.unattributed_s"] = "s"
PER_LAYER["caching.release_s"] = "s"
PER_LAYER["artifacts.built"] = "count"
PER_LAYER["artifacts.served_disk"] = "count"
PER_LAYER["artifacts.build_s"] = "s"
