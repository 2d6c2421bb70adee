"""Self-tests of the benchmark: ``python3 -m pytest lakebench -q`` from the
repository root. The layer-map test starts Spark once per workload and
takes a few minutes; the others are instant."""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import numpy as np
import pytest

from lakebench import gen, layers, stats
from lakebench.trace import Span, interval_union, self_times

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# ------------------------------------------------------------- tail rule

@pytest.mark.parametrize("n,q", [(1, 50), (19, 50), (20, 50), (39, 50),
                                 (40, 75), (99, 75), (100, 90), (199, 90),
                                 (200, 95), (1000, 99)])
def test_tail_percentile_needs_ten_samples_beyond(n, q):
    assert stats.tail_percentile(n) == q
    if n >= 20:
        assert n * (100 - q) >= stats.TAIL_BEYOND * 100


def test_tail_value_and_name():
    xs = list(range(1, 101))            # 100 samples -> p90
    q, v = stats.tail(xs)
    assert (q, stats.tail_name(q)) == (90, "p90")
    assert v == pytest.approx(90.1)
    assert stats.median([3, 1, 2]) == 2


# ------------------------------------------------------------- self time

def test_self_time_subtracts_union_of_children():
    spans = [Span("a", 0.0, 10.0),
             Span("b", 1.0, 4.0, parent=0),
             Span("c", 3.0, 6.0, parent=0),    # overlaps b: union is 1..6
             Span("d", 2.0, 3.0, parent=1),
             Span("e", 9.0, 12.0, parent=0)]   # clipped to the parent
    assert self_times(spans) == pytest.approx([10 - 5 - 1, 3 - 1, 3, 1, 3])


def test_interval_union():
    assert interval_union([(0, 2), (1, 3), (5, 6)]) == 4


def test_event_log_attributes_jobs_and_tasks_to_operations():
    from lakebench.trace import JOB_GROUP_PREFIX, OpRecord
    ev = [
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Submission Time": 1000, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": JOB_GROUP_PREFIX + "1"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1,
         "Submission Time": 1500, "Stage IDs": [2], "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task Info": {"Launch Time": 1100, "Finish Time": 1300,
                       "Accumulables": [
                           {"ID": 7, "Name": "number of output rows",
                            "Update": "5"},
                           {"ID": 8, "Name": "data sent to Python workers",
                            "Update": 64}]},
         "Task Metrics": {"Executor Run Time": 150,
                          "Shuffle Write Metrics":
                              {"Shuffle Bytes Written": 10}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2,
         "Task Info": {"Launch Time": 1500, "Finish Time": 1600},
         "Task Metrics": {"Executor Run Time": 99}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0,
         "Completion Time": 1400},
        {"Event": "org.apache.spark.sql.execution.ui."
                  "SparkListenerSQLExecutionStart",
         "sparkPlanInfo": {"nodeName": "MapInPandas", "children": [],
                           "metrics": [{"name": "number of output rows",
                                        "accumulatorId": 7}]}},
    ]
    events = layers.read_event_log(json.dumps(e) for e in ev)
    ops = [OpRecord(op=1, kind="scan", start=0.9, end=1.9)]
    m = layers.spark_metrics(ops, events, slots=2)
    assert (m["spark.jobs"], m["spark.tasks"], m["spark.stages"]) == (1, 1, 1)
    assert m["spark.task_run_s"] == pytest.approx(0.15)
    assert m["spark.shuffle_write_bytes"] == 10
    assert (m["spark.python_rows"], m["spark.python_bytes"]) == (5, 64)
    assert m["spark.driver_only_s"] == pytest.approx(1.0 - 0.4)
    assert m["spark.slot_utilization"] == pytest.approx(0.2 / (2 * 1.0))


# ------------------------------------------------------------ generators

def _digest(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def test_pipeline_inputs_are_byte_identical_per_seed(tmp_path):
    a = gen.write_pipeline_inputs(7, str(tmp_path / "a"))
    b = gen.write_pipeline_inputs(7, str(tmp_path / "b"))
    c = gen.write_pipeline_inputs(8, str(tmp_path / "c"))
    assert _digest(a.values()) == _digest(b.values())
    assert _digest(a.values()) != _digest(c.values())


def test_table_data_files_are_byte_identical_per_seed(tmp_path):
    def write(seed, d):
        fx = gen.lake_fixture(seed)
        files = [f for c in fx.commits[:3] for f in c]
        for i, f in enumerate(files):
            gen.write_data_file(str(tmp_path / d), f"{i}.parquet", f)
        return [str(tmp_path / d / f"{i}.parquet")
                for i in range(len(files))]
    assert _digest(write(3, "a")) == _digest(write(3, "b"))
    assert _digest(write(3, "a")) != _digest(write(4, "c"))


def _cycles_repr(seed):
    fx = gen.lake_fixture(seed)
    ops = gen.LakeOps(seed, gen.lake_model(fx))
    out = []
    for _ in range(3):
        for op in ops.cycle():
            frame = (op.frame.to_json() if op.frame is not None else None)
            out.append((op.kind, op.batch_id, op.key, op.day, op.day_lo,
                        op.day_hi, op.v_lo, op.v_hi, op.version, frame))
    return out


def test_operation_streams_are_identical_per_seed():
    assert _cycles_repr(5) == _cycles_repr(5)
    assert _cycles_repr(5) != _cycles_repr(6)


def test_models_match_a_brute_force_count():
    fx = gen.lake_fixture(2)
    model = gen.lake_model(fx)
    op = gen.LakeOp("time_travel", day_lo=3, day_hi=10, v_lo=100_000,
                    v_hi=400_000, version=17)
    want = [(int(i), int(v)) for c in fx.commits[:18] for f in c
            for i, v in zip(f.id, f.v)
            if 3 <= f.day <= 10 and 100_000 <= v < 400_000]
    assert gen.read_oracle(fx, op) == (len(want), sum(i for i, _ in want),
                                       sum(v for _, v in want))
    latest = [(int(i), int(v)) for c in fx.commits for f in c
              for i, v in zip(f.id, f.v)
              if 3 <= f.day <= 10 and 100_000 <= v < 400_000]
    assert model.scan(3, 10, 100_000, 400_000) == (
        len(latest), sum(i for i, _ in latest), sum(v for _, v in latest))


# -------------------------------------------------------------- contract

def test_benchmark_json_lists_the_metrics_the_code_reports():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == \
        layers.PER_LAYER
    assert {w["name"] for w in bench["workloads"]} == set(layers.IDLE_LAYERS)


# ------------------------------------------------------------- layer map

@pytest.mark.parametrize("workload", sorted(layers.IDLE_LAYERS))
def test_layer_spans_fire_and_idle_layers_stay_zero(workload):
    seed = 11
    out = subprocess.run(
        [sys.executable, "lakebench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    metrics = result["metrics"]
    assert [k for k, _ in layers.PER_LAYER] == list(metrics)
    for layer in layers.IDLE_LAYERS[workload]:
        busy = {k: m["value"] for k, m in metrics.items()
                if k.startswith(layer + ".") and m["value"]}
        assert not busy, f"{workload}: idle layer {layer} reported {busy}"
    spans_file = os.path.join(ROOT, ".lakebench_out",
                              f"{workload}-seed{seed}-spans.jsonl")
    with open(spans_file) as f:
        names = {json.loads(line).get("name") for line in f}
    missing = set(layers.EXPECTED_SPANS[workload]) - names
    assert not missing, f"{workload}: spans never fired: {missing}"
    assert metrics["spark.jobs"]["value"] > 0
