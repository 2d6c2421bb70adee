"""Traced-run recorder: layer spans from outside the program, plus the
Spark event log of the same run.

Spans are recorded around calls into each layer's public functions. The
wrappers are installed at every module that binds a wrapped function by
name (``from ..writer import stage_and_collect`` in ``table.py`` and
``streaming/sink.py`` keeps its own reference, so patching the defining
module alone would miss those call sites), and on the classes whose
methods are wrapped. Spans live in memory and are written out when the
run ends. Spark jobs are attributed to operations through a per-operation
job group, and to spans by their submission time.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any, Callable, Dict, Iterator, List, Optional, Tuple

JOB_GROUP_PREFIX = "lakebench-op-"


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int = -1            # index into Recorder.spans, -1 for none
    op: int = -1                # operation id
    attrs: Dict[str, Any] = field(default_factory=dict)


@dataclass
class OpRecord:
    op: int
    kind: str
    start: float
    end: float = 0.0
    attrs: Dict[str, Any] = field(default_factory=dict)


def self_times(spans: List[Span]) -> List[float]:
    """Each span's duration minus the part of it its child spans cover."""
    children: Dict[int, List[Tuple[float, float]]] = {}
    for s in spans:
        if s.parent >= 0:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(children.get(i, ())):
            lo, hi = max(lo, s.start), min(hi, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out.append((s.end - s.start) - covered)
    return out


def interval_union(intervals) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Recorder:
    """Collects spans for the operation in flight. Outside an operation
    (set-up, output checks) the wrappers record nothing."""

    def __init__(self, spark=None):
        self.sc = spark.sparkContext if spark is not None else None
        self.spans: List[Span] = []
        self.ops: List[OpRecord] = []
        self._stack: List[int] = []
        self._op: Optional[OpRecord] = None
        self._undo: List[Callable[[], None]] = []

    # ------------------------------------------------------ operations

    @contextmanager
    def operation(self, op_id: int, kind: str) -> Iterator[OpRecord]:
        rec = OpRecord(op=op_id, kind=kind, start=time.time())
        if self.sc is not None:
            self.sc.setJobGroup(f"{JOB_GROUP_PREFIX}{op_id}", kind)
        self._op = rec
        try:
            yield rec
        finally:
            rec.end = time.time()
            self._op = None
            self._stack.clear()
            if self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.ops.append(rec)

    @contextmanager
    def span(self, name: str) -> Iterator[Optional[Span]]:
        idx = self.open_span(name)
        try:
            yield None if idx is None else self.spans[idx]
        finally:
            self.close_span(idx)

    def open_span(self, name: str) -> Optional[int]:
        """Open a child of the innermost open span; None outside an
        operation."""
        if self._op is None:
            return None
        self.spans.append(Span(
            name=name, start=time.time(),
            parent=self._stack[-1] if self._stack else -1, op=self._op.op))
        self._stack.append(len(self.spans) - 1)
        return len(self.spans) - 1

    def close_span(self, idx: Optional[int]) -> None:
        """End span ``idx`` and any span opened inside it and left open."""
        if idx is None or idx not in self._stack:
            return
        while self._stack:
            top = self._stack.pop()
            if not self.spans[top].end:
                self.spans[top].end = time.time()
            if top == idx:
                break

    def inside(self, name: str) -> bool:
        return any(self.spans[i].name == name for i in self._stack)

    # ------------------------------------------------------- patching

    def install(self) -> None:
        for target in layer_targets():
            self._patch(*target)

    def uninstall(self) -> None:
        while self._undo:
            self._undo.pop()()

    def _patch(self, name: str, owner, attr: str, hook=None) -> None:
        raw = owner.__dict__[attr]
        fn = raw.func if isinstance(raw, functools.cached_property) else raw
        wrapped = (self._wrap_deferred(name, fn) if hook == "deferred"
                   else self._wrap(name, fn, hook))
        if isinstance(raw, functools.cached_property):
            wrapped = functools.cached_property(wrapped)
            wrapped.__set_name__(owner, attr)
        elif not isinstance(owner, type):
            # every other module that bound the function by name
            for mod in list(sys.modules.values()):
                if mod is owner or not getattr(
                        mod, "__name__", "").startswith("connectors_spark"):
                    continue
                for k, v in list(vars(mod).items()):
                    if v is raw:
                        setattr(mod, k, wrapped)
                        self._undo.append(
                            functools.partial(setattr, mod, k, raw))
        setattr(owner, attr, wrapped)
        self._undo.append(functools.partial(setattr, owner, attr, raw))

    def _wrap(self, name: str, fn: Callable, hook: Optional["Hook"]):
        rec = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if rec._op is None:
                return fn(*args, **kwargs)
            with rec.span(name) as s:
                if hook is not None and hook.before is not None:
                    hook.before(rec, s, args, kwargs)
                out = fn(*args, **kwargs)
                if hook is not None and hook.after is not None:
                    hook.after(rec, s, args, kwargs, out)
                return out
        return wrapper

    def _wrap_deferred(self, name: str, fn: Callable):
        """For a function returning a lazy DataFrame whose ``collect()``
        does the work: the span runs from the call until that collect
        returns (or until the enclosing span ends, if it never runs)."""
        rec = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            idx = rec.open_span(name)
            if idx is None:
                return fn(*args, **kwargs)
            try:
                out = fn(*args, **kwargs)
            except BaseException:
                rec.close_span(idx)
                raise
            inner = out.collect

            def collect():
                try:
                    return inner()
                finally:
                    rec.close_span(idx)
            out.collect = collect
            return out
        return wrapper

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for o in self.ops:
                f.write(json.dumps({"op": o.op, "kind": o.kind,
                                    "start": o.start, "end": o.end,
                                    "attrs": o.attrs}, default=str) + "\n")
            for s in self.spans:
                f.write(json.dumps(s.__dict__, default=str) + "\n")


# ------------------------------------------------------------ layer map

def _file_bytes(paths) -> int:
    total = 0
    for p in paths:
        try:
            total += os.path.getsize(p)
        except OSError:
            pass
    return total


def _segment_files(seg) -> List[str]:
    return list(seg.deltas) + list(seg.checkpoint_files)


@dataclass
class Hook:
    """Reads a wrapped call's arguments and result into its span."""
    before: Optional[Callable] = None
    after: Optional[Callable] = None


def _replay_files(rec, s, args, kwargs, out) -> None:
    files = _segment_files(args[0].segment)
    s.attrs.update(files=len(files), bytes=_file_bytes(files))


def _tail_files(rec, s, args, kwargs, out) -> None:
    # the tail applied inside a cold replay is that replay's own work
    if rec.inside("log.replay_cold"):
        return
    from connectors_spark.log import filenames as fn
    log_path = os.path.join(args[2], "_delta_log")
    files = [fn.delta_file(log_path, v) for v, _ in args[1]]
    s.attrs.update(files=len(files), bytes=_file_bytes(files))


def _update_prev(rec, s, args, kwargs) -> None:
    s.attrs["prev"] = args[0]._snapshot


def _update_unchanged(rec, s, args, kwargs, out) -> None:
    prev = s.attrs.pop("prev")
    s.attrs["unchanged"] = out is not None and out is prev


def _scan_selected(rec, s, args, kwargs, out) -> None:
    s.attrs["snapshot"] = args[0].snapshot
    if isinstance(out, list):       # collect_files
        s.attrs["paths"] = [f.path for f in out]


def _read_paths(rec, s, args, kwargs, out) -> None:
    s.attrs["paths"] = [r["path"] for r in args[1]]


def _staged(rec, s, args, kwargs, out) -> None:
    files = [f for part in (out if isinstance(out, tuple) else (out,))
             for f in part]
    data = [f for f in files if type(f).__name__ == "AddFile"]
    cdc = [f for f in files if type(f).__name__ == "AddCDCFile"]
    s.attrs.update(files=len(files), bytes=sum(f.size or 0 for f in data),
                   cdc_bytes=sum(f.size or 0 for f in cdc))


def _committed(rec, s, args, kwargs, out) -> None:
    from connectors_spark.log import filenames as fn
    actions = args[1] if len(args) > 1 else ()
    rows = 0
    for a in actions:
        if type(a).__name__ == "AddFile" and a.dataChange and a.stats:
            rows += json.loads(a.stats).get("numRecords", 0)
    s.attrs.update(
        removes=sum(1 for a in actions
                    if type(a).__name__ == "RemoveFile" and a.dataChange),
        add_rows=rows,
        log_bytes=_file_bytes([fn.delta_file(args[0].log.log_path, out)]))


def _changes_range(rec, s, args, kwargs, out) -> None:
    start = args[1] if len(args) > 1 else kwargs.get("start_version", 0)
    end = args[2] if len(args) > 2 else kwargs.get("end_version")
    if end is not None:
        s.attrs["versions"] = end - start + 1


def _sink_skipped(rec, s, args, kwargs, out) -> None:
    s.attrs["skipped"] = out is None


def layer_targets():
    """(span name, owner, attribute[, hook]) for every wrapped call. The
    span name's prefix is its layer; "deferred" marks a call whose work
    runs in the ``collect()`` of the DataFrame it returns."""
    import connectors_spark.log.checkpoints as checkpoints
    import connectors_spark.log.segment as segment
    import connectors_spark.log.snapshot as snapshot
    import connectors_spark.streaming.cdf as cdf
    import connectors_spark.streaming.changes as changes
    import connectors_spark.streaming.sink as sink
    import connectors_spark.writer as writer
    from connectors_spark.ops import dedup, multimodal, similarity
    from connectors_spark.scan import DeltaScan
    from connectors_spark.table import DeltaLog, DeltaTable
    from connectors_spark.txn import OptimisticTransaction
    S = snapshot.Snapshot
    out = [
        ("log.segment", segment, "get_log_segment"),
        ("log.snapshot_built", S, "__init__"),
        ("log.replay_cold", S, "_files_rows", Hook(after=_replay_files)),
        ("log.replay_pm", S, "_replay_driver_side",
         Hook(after=_replay_files)),
        ("log.replay_tail", snapshot, "apply_tail_to_files_rows",
         Hook(after=_tail_files)),
        ("log.update", DeltaLog, "update",
         Hook(_update_prev, _update_unchanged)),
        ("log.checkpoint", checkpoints, "write_checkpoint"),
        ("scan.plan", DeltaScan, "to_df", Hook(after=_scan_selected)),
        ("scan.plan", DeltaScan, "collect_files",
         Hook(after=_scan_selected)),
        ("scan.read_files", S, "_read_plain", Hook(after=_read_paths)),
        ("scan.read_files", S, "_read_with_dv", Hook(after=_read_paths)),
        ("writer.stage", writer, "stage_and_collect", Hook(after=_staged)),
        ("writer.stage", writer, "stage_cdc_and_collect",
         Hook(after=_staged)),
        ("writer.publish", writer, "publish_plan", "deferred"),
        ("txn.commit", OptimisticTransaction, "commit",
         Hook(after=_committed)),
        ("txn.commit", OptimisticTransaction, "commit_stream",
         Hook(after=_committed)),
        ("txn.conflict_check", OptimisticTransaction,
         "_check_for_conflicts"),
        ("streaming.changes", cdf, "table_changes",
         Hook(after=_changes_range)),
        ("streaming.changes", changes, "changes_df",
         Hook(after=_changes_range)),
        ("streaming.sink", sink.DeltaStreamSink, "write_batch",
         Hook(after=_sink_skipped)),
    ]
    out += [("table.dml", DeltaTable, m)
            for m in ("write", "merge", "delete", "update")]
    out += [("ops.plan", mod, fn) for mod, fn in (
        (dedup, "minhash_lsh_pairs"), (dedup, "ngram_jaccard_pairs"),
        (similarity, "cosine_topk"), (similarity, "ann_lsh_topk"),
        (multimodal, "phash_clusters"),
        (multimodal, "synth_jpeg_scaled_media"))]
    return out
