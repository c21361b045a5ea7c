"""The benchmark's own checks; no Spark session is started.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq

import datagen
import layers
import run
import spans
import split
from transitdata_omm_cancellation_source_spark.plans import queries as registry

MANIFEST = os.path.join(run.CHECKOUT, "BENCHMARK.json")


def test_partition_covers_registry_exactly_once():
    kernels, relational = set(split.KERNELS), set(split.RELATIONAL)
    assert len(kernels) == len(split.KERNELS)
    assert len(relational) == len(split.RELATIONAL)
    assert not kernels & relational
    assert kernels | relational == set(registry.queries())
    assert (len(kernels), len(relational)) == (39, 71)


def test_benched_subset_spans_both_sides():
    benched = set(split.BENCHED)
    assert len(benched) == len(split.BENCHED)
    assert benched & set(split.KERNELS) and benched & set(split.RELATIONAL)
    assert all(registry.REGISTRY[n].oracle for n in benched)


def test_manifest_matches_the_code():
    with open(MANIFEST) as fh:
        manifest = json.load(fh)
    assert [w["name"] for w in manifest["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in manifest["per_layer"]} == layers.PER_LAYER
    assert {m["name"] for m in manifest["end_to_end"]} == set(run.END_TO_END)


def test_same_seed_same_inputs(tmp_path):
    a, b, c = (str(tmp_path / d) for d in "abc")
    datagen.generate(a, 5, 0.001)
    datagen.generate(b, 5, 0.001)
    datagen.generate(c, 6, 0.001)
    for name in ("events", "documents", "embeddings", "lineitem"):
        ta, tb, tc = (pq.read_table(os.path.join(d, f"{name}.parquet")) for d in (a, b, c))
        assert ta.equals(tb)
        assert not ta.equals(tc)


def test_event_log_attributes_jobs_to_the_phase_that_started_them(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {spans.PHASE_PROPERTY: "operators.diff.collect"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task Metrics": {"Executor Run Time": 1500, "Executor CPU Time": 10**9,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 7}},
         "Task Info": {"Accumulables": [
             {"Name": "data sent to Python workers", "Update": "11"}]}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2,
         "Task Metrics": {"Executor Run Time": 500}},
    ]
    log = tmp_path / "app-1"
    log.write_text("".join(json.dumps(e) + "\n" for e in events))
    per_phase = spans.read_event_log(str(tmp_path))
    diff = per_phase["operators.diff.collect"]
    assert (diff["jobs"], diff["stages"], diff["tasks"]) == (1, 1, 1)
    assert diff["executor_run_s"] == 1.5 and diff["executor_cpu_s"] == 1.0
    assert diff["shuffle_write_bytes"] == 7 and diff["python_sent_bytes"] == 11
    other = per_phase[spans.UNATTRIBUTED]
    assert (other["jobs"], other["tasks"], other["executor_run_s"]) == (1, 1, 0.5)


def test_phases_are_sequential_spans():
    phases = spans.Phases()
    phases.mark("a")
    phases.mark("b")
    phases.mark(spans.OUTSIDE)
    assert set(phases.totals) >= {"a", "b"}
    assert all(v >= 0 for v in phases.totals.values())
