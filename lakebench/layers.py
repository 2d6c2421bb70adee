"""Per-layer metrics of a traced run, from its spans and its Spark event
log. Counts, bytes and seconds are averages per traced operation, so
runs that complete different numbers of operations stay comparable;
ratios are ratios over the whole traced phase."""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Dict, Iterable, List, Optional, Tuple

from .trace import JOB_GROUP_PREFIX, OpRecord, Span, interval_union, \
    self_times

# (name, unit) of every per-layer metric, in BENCHMARK.json order.
PER_LAYER: List[Tuple[str, str]] = [
    ("log.segment_calls", "count/op"),
    ("log.segment_s", "s/op"),
    ("log.snapshots_built", "count/op"),
    ("log.replay_s", "s/op"),
    ("log.replay_files_read", "count/op"),
    ("log.replay_bytes_read", "B/op"),
    ("log.replay_spark_jobs", "count/op"),
    ("log.update_unchanged_ratio", "ratio"),
    ("log.checkpoints_written", "count/op"),
    ("log.checkpoint_s", "s/op"),
    ("scan.plan_s", "s/op"),
    ("scan.files_considered", "count/op"),
    ("scan.files_selected", "count/op"),
    ("scan.skip_ratio", "ratio"),
    ("scan.bytes_selected", "B/op"),
    ("scan.rows_returned_per_row_selected", "ratio"),
    ("table.dml_self_s", "s/op"),
    ("table.spark_jobs_per_dml", "count/call"),
    ("table.files_rewritten", "count/op"),
    ("table.rows_rewritten_per_row_changed", "ratio"),
    ("writer.stage_s", "s/op"),
    ("writer.publish_s", "s/op"),
    ("writer.files_written", "count/op"),
    ("writer.bytes_written", "B/op"),
    ("writer.cdc_bytes_written", "B/op"),
    ("txn.commits", "count/op"),
    ("txn.commit_s", "s/op"),
    ("txn.retries", "count/op"),
    ("txn.log_bytes_written", "B/op"),
    ("streaming.changes_s", "s/op"),
    ("streaming.versions_read", "count/op"),
    ("streaming.change_rows", "count/op"),
    ("streaming.sink_batches", "count/op"),
    ("streaming.sink_skipped", "count/op"),
    ("ops.plan_s", "s/op"),
    ("ops.exec_s", "s/op"),
    ("spark.jobs", "count/op"),
    ("spark.stages", "count/op"),
    ("spark.tasks", "count/op"),
    ("spark.task_deser_s", "s/op"),
    ("spark.task_run_s", "s/op"),
    ("spark.task_cpu_s", "s/op"),
    ("spark.gc_s", "s/op"),
    ("spark.shuffle_write_bytes", "B/op"),
    ("spark.shuffle_read_bytes", "B/op"),
    ("spark.shuffle_fetch_wait_s", "s/op"),
    ("spark.python_rows", "count/op"),
    ("spark.python_bytes", "B/op"),
    ("spark.driver_only_s", "s/op"),
    ("spark.slot_utilization", "ratio"),
    # operation latencies of the run's untraced phase, by the names the
    # operation kinds carry; 0 on workloads without that kind
    ("e2e.scan_p50_s", "s"),
    ("e2e.warm_scan_p50_s", "s"),
    ("e2e.time_travel_p50_s", "s"),
    ("e2e.append_p50_s", "s"),
    ("e2e.merge_p50_s", "s"),
    ("e2e.dml_p50_s", "s"),
    ("e2e.cdf_read_p50_s", "s"),
    ("e2e.minhash_p50_s", "s"),
    ("e2e.cosine_topk_p50_s", "s"),
    ("e2e.phash_p50_s", "s"),
    ("e2e.write_amp", "ratio"),
    ("e2e.space_amp", "ratio"),
    ("trace.overhead_ratio", "ratio"),
]

# Layers each workload must leave idle: any non-zero metric of these
# layers means the layer map or the workload is wrong.
IDLE_LAYERS = {
    "lake": ("ops",),
    "pipeline_ops": ("log", "scan", "table", "writer", "txn", "streaming"),
}
# The span names the traced run must see on each workload.
EXPECTED_SPANS = {
    "lake": ("log.segment", "log.snapshot_built", "log.replay_cold",
             "log.replay_pm", "log.replay_tail", "log.update",
             "log.checkpoint", "scan.plan", "scan.read_files", "table.dml",
             "writer.stage", "writer.publish", "txn.commit",
             "streaming.changes", "streaming.sink"),
    "pipeline_ops": ("ops.plan", "ops.exec"),
}


# ------------------------------------------------------------ event log

_PYTHON_NODE_MARKS = ("Python", "Pandas", "Arrow")
_PY_BYTES = ("data sent to Python workers",
             "data returned from Python workers")


@dataclass
class Job:
    op: Optional[int]
    submit_ms: int
    end_ms: int = 0


@dataclass
class Task:
    stage: int
    launch_ms: int
    finish_ms: int
    deser_ms: float
    run_ms: float
    cpu_ns: float
    gc_ms: float
    shuffle_write: float
    shuffle_read: float
    fetch_wait_ms: float
    accums: List[Tuple[int, str, float]]


@dataclass
class EventLog:
    jobs: Dict[int, Job] = field(default_factory=dict)
    stage_job: Dict[int, int] = field(default_factory=dict)
    tasks: List[Task] = field(default_factory=list)
    python_row_metrics: set = field(default_factory=set)


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _python_metrics(plan: dict, out: set) -> None:
    if any(m in plan.get("nodeName", "") for m in _PYTHON_NODE_MARKS):
        for m in plan.get("metrics", ()):
            if m.get("name") == "number of output rows":
                out.add(m.get("accumulatorId"))
    for c in plan.get("children", ()):
        _python_metrics(c, out)


def read_event_log(lines: Iterable[str]) -> EventLog:
    ev = EventLog()
    for line in lines:
        e = json.loads(line)
        kind = e.get("Event", "")
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            op = (int(group[len(JOB_GROUP_PREFIX):])
                  if group and group.startswith(JOB_GROUP_PREFIX) else None)
            ev.jobs[e["Job ID"]] = Job(op=op, submit_ms=e["Submission Time"])
            for sid in e.get("Stage IDs", ()):
                ev.stage_job.setdefault(sid, e["Job ID"])
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in ev.jobs:
                ev.jobs[e["Job ID"]].end_ms = e["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            tm = e.get("Task Metrics") or {}
            info = e.get("Task Info") or {}
            sr = tm.get("Shuffle Read Metrics") or {}
            sw = tm.get("Shuffle Write Metrics") or {}
            ev.tasks.append(Task(
                stage=e["Stage ID"],
                launch_ms=info.get("Launch Time", 0),
                finish_ms=info.get("Finish Time", 0),
                deser_ms=_num(tm.get("Executor Deserialize Time")),
                run_ms=_num(tm.get("Executor Run Time")),
                cpu_ns=_num(tm.get("Executor CPU Time")),
                gc_ms=_num(tm.get("JVM GC Time")),
                shuffle_write=_num(sw.get("Shuffle Bytes Written")),
                shuffle_read=_num(sr.get("Remote Bytes Read"))
                + _num(sr.get("Local Bytes Read")),
                fetch_wait_ms=_num(sr.get("Fetch Wait Time")),
                accums=[(a.get("ID"), a.get("Name", ""),
                         _num(a.get("Update")))
                        for a in info.get("Accumulables", ())]))
        elif kind.endswith("SparkListenerSQLExecutionStart") or \
                kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            _python_metrics(e.get("sparkPlanInfo") or {},
                            ev.python_row_metrics)
    return ev


# --------------------------------------------------------------- metrics

def _ancestors(spans: List[Span], i: int):
    p = spans[i].parent
    while p >= 0:
        yield p
        p = spans[p].parent


def _outermost(spans: List[Span], idx: List[int], prefix: str) -> List[int]:
    return [i for i in idx
            if not any(spans[a].name.startswith(prefix)
                       for a in _ancestors(spans, i))]


def _inventory(snapshot) -> Dict[str, Tuple[int, int]]:
    """canonical path -> (size, numRecords) of a materialized snapshot."""
    rows = snapshot.__dict__.get("_files_rows") or ()
    out = {}
    for r in rows:
        n = 0
        if r["stats"]:
            n = json.loads(r["stats"]).get("numRecords", 0)
        out[r["path"]] = (r["size"] or 0, n)
    return out


def _jobs_within(jobs: List[Job], spans: List[Span], idx: List[int]) -> int:
    n = 0
    for i in idx:
        s = spans[i]
        lo, hi = int(s.start * 1000), int(s.end * 1000) + 1
        n += sum(1 for j in jobs if j.op == s.op and lo <= j.submit_ms <= hi)
    return n


def layer_metrics(ops: List[OpRecord], spans: List[Span],
                  events: Optional[EventLog], slots: int
                  ) -> Dict[str, float]:
    """Every PER_LAYER metric except the e2e.* and trace.* ones."""
    from connectors_spark.log.snapshot import canonical_path
    n = max(len(ops), 1)
    selft = self_times(spans)
    by: Dict[str, List[int]] = {}
    for i, s in enumerate(spans):
        by.setdefault(s.name, []).append(i)

    def idx(*names) -> List[int]:
        return sorted(i for nm in names for i in by.get(nm, ()))

    def count(*names) -> float:
        return len(idx(*names)) / n

    def secs(*names) -> float:
        return sum(selft[i] for i in idx(*names)) / n

    def attr(ii, key) -> float:
        return sum(spans[i].attrs.get(key, 0) or 0 for i in ii)

    jobs = list(events.jobs.values()) if events else []
    m: Dict[str, float] = {}

    # log
    replay = idx("log.replay_cold", "log.replay_pm", "log.replay_tail")
    m["log.segment_calls"] = count("log.segment")
    m["log.segment_s"] = secs("log.segment")
    m["log.snapshots_built"] = count("log.snapshot_built")
    m["log.replay_s"] = secs("log.replay_cold", "log.replay_pm",
                             "log.replay_tail")
    m["log.replay_files_read"] = attr(replay, "files") / n
    m["log.replay_bytes_read"] = attr(replay, "bytes") / n
    m["log.replay_spark_jobs"] = _jobs_within(
        jobs, spans, _outermost(spans, replay, "log.replay")) / n
    upd = idx("log.update")
    m["log.update_unchanged_ratio"] = (
        sum(1 for i in upd if spans[i].attrs.get("unchanged")) / len(upd)
        if upd else 0.0)
    m["log.checkpoints_written"] = count("log.checkpoint")
    m["log.checkpoint_s"] = secs("log.checkpoint")

    # scan
    plans = idx("scan.plan")
    considered = selected = sel_bytes = 0
    sel_rows_by_op: Dict[int, int] = {}
    for i in _outermost(spans, plans, "scan.plan"):
        s = spans[i]
        snap = s.attrs.get("snapshot")
        if snap is None:
            continue
        inv = _inventory(snap)
        considered += len(inv)
        paths = s.attrs.get("paths")
        if paths is None:
            paths = [p for j in by.get("scan.read_files", ())
                     if i in _ancestors(spans, j)
                     for p in spans[j].attrs.get("paths", ())]
        for p in paths:
            size, rows = inv.get(canonical_path(p, snap.table_path), (0, 0))
            selected += 1
            sel_bytes += size
            sel_rows_by_op[s.op] = sel_rows_by_op.get(s.op, 0) + rows
    m["scan.plan_s"] = secs("scan.plan", "scan.read_files")
    m["scan.files_considered"] = considered / n
    m["scan.files_selected"] = selected / n
    m["scan.skip_ratio"] = 1.0 - selected / considered if considered else 0.0
    m["scan.bytes_selected"] = sel_bytes / n
    scans = [o for o in ops if o.kind in ("scan", "warm_scan")]
    returned = sum(o.attrs.get("rows", 0) for o in scans)
    scanned = sum(sel_rows_by_op.get(o.op, 0) for o in scans)
    m["scan.rows_returned_per_row_selected"] = (returned / scanned
                                                if scanned else 0.0)

    # table
    dml = idx("table.dml")
    in_dml = [i for i in idx("txn.commit")
              if any(spans[a].name == "table.dml"
                     for a in _ancestors(spans, i))]
    m["table.dml_self_s"] = secs("table.dml")
    m["table.spark_jobs_per_dml"] = (
        _jobs_within(jobs, spans, _outermost(spans, dml, "table.dml"))
        / len(dml) if dml else 0.0)
    m["table.files_rewritten"] = attr(in_dml, "removes") / n
    changed = sum(o.attrs.get("rows_changed", 0) for o in ops
                  if o.kind in ("merge", "delete", "update"))
    m["table.rows_rewritten_per_row_changed"] = (
        attr(in_dml, "add_rows") / changed if changed else 0.0)

    # writer
    stage = _outermost(spans, idx("writer.stage"), "writer.stage")
    m["writer.stage_s"] = secs("writer.stage")
    m["writer.publish_s"] = secs("writer.publish")
    m["writer.files_written"] = attr(stage, "files") / n
    m["writer.bytes_written"] = attr(stage, "bytes") / n
    m["writer.cdc_bytes_written"] = attr(stage, "cdc_bytes") / n

    # txn
    m["txn.commits"] = count("txn.commit")
    m["txn.commit_s"] = secs("txn.commit", "txn.conflict_check")
    m["txn.retries"] = count("txn.conflict_check")
    m["txn.log_bytes_written"] = attr(idx("txn.commit"), "log_bytes") / n

    # streaming
    ch = _outermost(spans, idx("streaming.changes"), "streaming.changes")
    m["streaming.changes_s"] = secs("streaming.changes")
    m["streaming.versions_read"] = attr(ch, "versions") / n
    m["streaming.change_rows"] = sum(o.attrs.get("change_rows", 0)
                                     for o in ops) / n
    m["streaming.sink_batches"] = count("streaming.sink")
    m["streaming.sink_skipped"] = attr(idx("streaming.sink"), "skipped") / n

    # ops: the operator calls build the DataFrame; the benchmark's own
    # span covers the action that runs it
    m["ops.plan_s"] = secs("ops.plan")
    m["ops.exec_s"] = secs("ops.exec")

    m.update(spark_metrics(ops, events, slots))
    return m


def spark_metrics(ops: List[OpRecord], events: Optional[EventLog],
                  slots: int) -> Dict[str, float]:
    names = ("jobs", "stages", "tasks", "task_deser_s", "task_run_s",
             "task_cpu_s", "gc_s", "shuffle_write_bytes",
             "shuffle_read_bytes", "shuffle_fetch_wait_s", "python_rows",
             "python_bytes", "driver_only_s", "slot_utilization")
    m = {f"spark.{k}": 0.0 for k in names}
    if events is None or not ops:
        return m
    n = len(ops)
    traced = {o.op: o for o in ops}
    jobs = {j: job for j, job in events.jobs.items() if job.op in traced}
    tasks = [t for t in events.tasks
             if events.stage_job.get(t.stage) in jobs]
    m["spark.jobs"] = len(jobs) / n
    m["spark.stages"] = len({t.stage for t in tasks}) / n
    m["spark.tasks"] = len(tasks) / n
    m["spark.task_deser_s"] = sum(t.deser_ms for t in tasks) / 1e3 / n
    m["spark.task_run_s"] = sum(t.run_ms for t in tasks) / 1e3 / n
    m["spark.task_cpu_s"] = sum(t.cpu_ns for t in tasks) / 1e9 / n
    m["spark.gc_s"] = sum(t.gc_ms for t in tasks) / 1e3 / n
    m["spark.shuffle_write_bytes"] = sum(t.shuffle_write for t in tasks) / n
    m["spark.shuffle_read_bytes"] = sum(t.shuffle_read for t in tasks) / n
    m["spark.shuffle_fetch_wait_s"] = sum(t.fetch_wait_ms
                                          for t in tasks) / 1e3 / n
    m["spark.python_rows"] = sum(u for t in tasks for (aid, _, u) in t.accums
                                 if aid in events.python_row_metrics) / n
    m["spark.python_bytes"] = sum(u for t in tasks for (_, nm, u) in t.accums
                                  if nm in _PY_BYTES) / n
    driver_only = 0.0
    for o in ops:
        busy = [(max(j.submit_ms / 1e3, o.start),
                 min((j.end_ms or j.submit_ms) / 1e3, o.end))
                for j in jobs.values() if j.op == o.op]
        driver_only += (o.end - o.start) - interval_union(
            [(lo, hi) for lo, hi in busy if hi > lo])
    m["spark.driver_only_s"] = driver_only / n
    wall = sum(o.end - o.start for o in ops)
    m["spark.slot_utilization"] = (
        sum(t.finish_ms - t.launch_ms for t in tasks) / 1e3 / (slots * wall)
        if wall > 0 else 0.0)
    return m
