"""The workloads. Each times only the calls into the program and checks
every result against an oracle outside the timed interval.

A workload object is driven by run.py: ``setup()`` several times (the
last fixture is kept), ``warmup()`` untimed, then ``step()`` in a closed
loop with one client and no think time, then ``finish()``. Operations
come in cycles of a fixed mix of kinds with seeded parameters, and a
measured phase ends only at a cycle boundary, so every run measures every
kind.
"""

from __future__ import annotations

import math
import os
import shutil
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field
from typing import Any, Dict, List, Tuple

from . import gen

# Bytes of one user row of the lake table: four 8-byte columns.
ROW_BYTES = 32
# Spark DDL of the lake table's rows (gen.SCHEMA_JSON)
SCHEMA = "id long, day long, v long, x double"


@dataclass
class Timed:
    kind: str
    seconds: float = 0.0
    attrs: Dict[str, Any] = field(default_factory=dict)


class Clock:
    """Times operations; with a recorder it also traces them."""

    def __init__(self, recorder=None):
        self.rec = recorder
        self.n = 0

    @contextmanager
    def op(self, kind: str):
        t = Timed(kind)
        self.n += 1
        ctx = (self.rec.operation(self.n, kind) if self.rec is not None
               else nullcontext())
        with ctx as orec:
            t0 = time.perf_counter()
            try:
                yield t
            finally:
                t.seconds = time.perf_counter() - t0
                if orec is not None:
                    orec.attrs.update(t.attrs)

    def span(self, name: str):
        return self.rec.span(name) if self.rec is not None else nullcontext()


def _agg_row(df):
    from pyspark.sql import functions as F
    r = df.agg(F.count(F.lit(1)), F.sum("id"), F.sum("v")).collect()[0]
    return int(r[0]), int(r[1] or 0), int(r[2] or 0)


def _dir_files(path: str) -> Dict[str, int]:
    out = {}
    for root, _, names in os.walk(path):
        for nm in names:
            p = os.path.join(root, nm)
            out[p] = os.path.getsize(p)
    return out


class Workload:
    name = ""
    # set-ups per run; ``setup_s`` is their median
    setup_repeats = 5

    def __init__(self, spark, workdir: str, seed: int):
        self.spark = spark
        self.workdir = workdir
        self.seed = seed
        self._fixtures: List[str] = []
        self._queue: List[Any] = []

    def _fresh_dir(self, stem: str) -> str:
        # keep only the newest fixture of repeated set-ups
        for old in self._fixtures:
            shutil.rmtree(old, ignore_errors=True)
        path = os.path.join(self.workdir, f"{stem}{len(self._fixtures)}")
        self._fixtures = [path]
        return path

    def setup(self) -> None:
        raise NotImplementedError

    def cycle(self) -> List[Any]:
        """The operations of the next cycle."""
        raise NotImplementedError

    def run(self, clock: Clock, op) -> Tuple[str, float, bool]:
        """Run one operation: (kind, seconds, output correct)."""
        raise NotImplementedError

    def warmup(self) -> int:
        """Run one whole cycle untimed, which takes the process's cold
        start (JVM class loading and compilation, Python worker start-up,
        the first read of the fixture) for every kind; returns how many
        operations gave a wrong result. The measured cycles continue the
        same operation stream."""
        return sum(not self.run(Clock(), op)[2] for op in self.cycle())

    def step(self, clock: Clock) -> Tuple[str, float, bool]:
        if not self._queue:
            self._queue = list(self.cycle())
        return self.run(clock, self._queue.pop(0))

    def at_boundary(self) -> bool:
        return not self._queue

    def finish(self) -> Tuple[bool, Dict[str, float]]:
        """Final whole-state check and workload-level ratios."""
        return True, {}


# --------------------------------------------------------------------- lake

class Lake(Workload):
    """CDC-style ingestion into a checkpointed, CDF-enabled table, with the
    first read after each commit, warm re-reads of the latest version and
    cold time-travel reads of its history."""
    name = "lake"
    # each set-up builds the whole table (about 3 s), so only two
    setup_repeats = 2

    def setup(self) -> None:
        from connectors_spark import DeltaTable
        from connectors_spark.streaming.sink import DeltaStreamSink
        self.path = self._fresh_dir("lake")
        self.fx = gen.lake_fixture(self.seed)
        gen.build_lake_table(self.spark, self.path, self.fx)
        self.model = gen.lake_model(self.fx)
        self.table = DeltaTable.for_path(self.spark, self.path)
        self.sink = DeltaStreamSink(self.path, app_id="lakebench-ingest")
        self.ops = gen.LakeOps(self.seed, self.model)

    def cycle(self) -> List[gen.LakeOp]:
        return self.ops.cycle()

    def warmup(self) -> int:
        wrong = super().warmup()
        # write and space amplification count from here on
        self.bytes_before = _dir_files(self.path)
        self.changed_before = self.model.rows_changed
        return wrong

    def _latest_version(self) -> int:
        # read from the file system, so the check warms no program cache
        log = os.path.join(self.path, "_delta_log")
        return max(int(n[:20]) for n in os.listdir(log)
                   if n.endswith(".json") and n[:20].isdigit())

    def run(self, clock: Clock, op: gen.LakeOp) -> Tuple[str, float, bool]:
        kind = "scan" if op.kind == "warm_scan" else op.kind
        return getattr(self, "_" + kind)(clock, op)

    def _append(self, clock, op):
        df = self.spark.createDataFrame(op.frame, SCHEMA)
        with clock.op("append") as t:
            self.sink.foreach_batch(df, op.batch_id)
            t.attrs["rows_changed"] = len(op.frame)
        ch: List = []
        m = self.model
        m.insert(op.frame["id"], op.frame["day"], op.frame["v"], ch)
        m.commit(ch)
        return "append", t.seconds, self._latest_version() == m.version

    def _replay(self, clock, op):
        df = self.spark.createDataFrame(op.frame, SCHEMA)
        with clock.op("replay") as t:
            self.sink.foreach_batch(df, op.batch_id)
            t.attrs["replayed"] = 1
        return "replay", t.seconds, self._latest_version() == \
            self.model.version

    def _merge(self, clock, op):
        from connectors_spark import Col, Lit
        src = self.spark.createDataFrame(op.frame, SCHEMA)
        ch: List = []
        m = self.model
        for i, d, v in zip(op.frame["id"], op.frame["day"], op.frame["v"]):
            i, d, v = int(i), int(d), int(v)
            if i in m.rows:
                ch += [("update_preimage", i, m.rows[i][1]),
                       ("update_postimage", i, v)]
                m.rows[i][1] = v
            else:
                m.insert([i], [d], [v], ch)
        with clock.op("merge") as t:
            ver = self.table.merge(
                src, "t.id = s.id AND t.day = s.day",
                when_matched_update={"v": "s.v"},
                predicate=Col("day") >= Lit(op.day_lo))
            t.attrs["rows_changed"] = len(op.frame)
        m.commit(ch)
        return "merge", t.seconds, ver == m.version

    def _delete(self, clock, op):
        from connectors_spark import Col, Lit
        m = self.model
        v = m.rows.pop(op.key)[1]
        m.by_day[op.day].discard(op.key)
        with clock.op("delete") as t:
            ver = self.table.delete(Col("id") == Lit(op.key))
            t.attrs["rows_changed"] = 1
        m.commit([("delete", op.key, v)])
        return "delete", t.seconds, ver == m.version

    def _update(self, clock, op):
        from connectors_spark import Col, Lit
        m = self.model
        ch: List = []
        for i in sorted(m.by_day.get(op.day, ())):
            v = m.rows[i][1]
            ch += [("update_preimage", i, v), ("update_postimage", i, v + 1)]
            m.rows[i][1] = v + 1
        with clock.op("update") as t:
            ver = self.table.update({"v": "v + 1"},
                                         Col("day") == Lit(op.day))
            t.attrs["rows_changed"] = len(ch) // 2
        m.commit(ch)
        return "update", t.seconds, ver == m.version

    def _scan(self, clock, op):
        from connectors_spark import Col, Lit
        pred = ((Col("day") >= Lit(op.day_lo)) & (Col("day") <= Lit(op.day_hi))
                & (Col("v") >= Lit(op.v_lo)) & (Col("v") < Lit(op.v_hi)))
        with clock.op(op.kind) as t:
            got = _agg_row(self.table.scan(pred).to_df())
            t.attrs["rows"] = got[0]
        return op.kind, t.seconds, got == self.model.scan(
            op.day_lo, op.day_hi, op.v_lo, op.v_hi)

    def _time_travel(self, clock, op):
        from pyspark.sql import functions as F
        cond = (F.col("day").between(op.day_lo, op.day_hi)
                & (F.col("v") >= op.v_lo) & (F.col("v") < op.v_hi))
        with clock.op("time_travel") as t:
            got = _agg_row(self.table.to_df(version=op.version)
                           .where(cond))
            t.attrs["rows"] = got[0]
        return "time_travel", t.seconds, \
            got == gen.read_oracle(self.fx, op)

    def _cdf(self, clock, op):
        from pyspark.sql import functions as F
        m = self.model
        hi = m.version
        lo = hi - 2
        with clock.op("cdf") as t:
            rows = (self.table.table_changes(lo, hi)
                    .groupBy("_change_type")
                    .agg(F.count(F.lit(1)), F.sum("id")).collect())
            t.attrs["change_rows"] = sum(int(r[1]) for r in rows)
        got = {r[0]: (int(r[1]), int(r[2])) for r in rows}
        return "cdf", t.seconds, got == m.changes_between(lo, hi)

    def finish(self) -> Tuple[bool, Dict[str, float]]:
        after = _dir_files(self.path)
        written = sum(size - self.bytes_before.get(p, 0)
                      for p, size in after.items()
                      if size != self.bytes_before.get(p))
        changed = self.model.rows_changed - self.changed_before
        live = self.table.snapshot().state_summary()
        # the live file count and size must match the model's row count
        ok = live["numOfFiles"] > 0 and self._live_rows() == \
            len(self.model.rows)
        return ok, {"write_amp": written / (changed * ROW_BYTES)
                    if changed else 0.0,
                    "space_amp": sum(after.values()) / live["sizeInBytes"]}

    def _live_rows(self) -> int:
        """Rows of the live snapshot from its files' numRecords stats."""
        import json
        return sum(json.loads(f.stats)["numRecords"]
                   for f in self.table.snapshot().all_files())


# ------------------------------------------------------------ pipeline_ops

# operation kind -> registry query whose DuckDB SQL is the oracle
_PIPELINE_ORACLE = {
    "minhash": "doc_minhash_lsh_pairs",
    "ngram_jaccard": "doc_ngram_jaccard_pairs",
    "cosine_topk": "emb_cosine_topk",
    "ann_lsh_topk": "emb_ann_lsh_topk",
    "phash": "mm_phash_clusters",
}


def _rows_match(got, want, tol: float = 1e-6) -> bool:
    if len(got) != len(want):
        return False
    key = lambda r: tuple(round(x, 5) if isinstance(x, float) else x
                          for x in r)
    for g, w in zip(sorted(map(tuple, got), key=key),
                    sorted(map(tuple, want), key=key)):
        for a, b in zip(g, w):
            if isinstance(a, float) or isinstance(b, float):
                if not math.isclose(a, b, abs_tol=tol):
                    return False
            elif a != b:
                return False
    return True


class PipelineOps(Workload):
    """Passes over five pipeline operators on seeded documents and
    embeddings; phash renders real JPEGs for a document subset."""
    name = "pipeline_ops"
    kinds = ("minhash", "ngram_jaccard", "cosine_topk", "ann_lsh_topk",
             "phash")
    PHASH_DOCS = 200

    def setup(self) -> None:
        self.paths = gen.write_pipeline_inputs(self.seed,
                                               self._fresh_dir("pipeline"))

    def warmup(self) -> int:
        import duckdb

        from connectors_spark.queries import REGISTRY
        self.oracle = {}
        for kind, q in _PIPELINE_ORACLE.items():
            con = duckdb.connect()
            try:
                for name, p in self.paths.items():
                    limit = (f" WHERE doc_id < {self.PHASH_DOCS}"
                             if (kind, name) == ("phash", "documents")
                             else "")
                    con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                                f"read_parquet('{p}'){limit}")
                self.oracle[kind] = con.execute(REGISTRY[q].sql).fetchall()
            finally:
                con.close()
        return super().warmup()

    def cycle(self) -> List[str]:
        return list(self.kinds)

    def _plan(self, kind: str):
        from pyspark.sql import functions as F

        from connectors_spark.ops import dedup, multimodal, similarity
        read = self.spark.read.parquet
        if kind == "minhash":
            return dedup.minhash_lsh_pairs(read(self.paths["documents"]),
                                           threshold=0.8) \
                .select("a_id", "b_id", "jaccard")
        if kind == "ngram_jaccard":
            return dedup.ngram_jaccard_pairs(read(self.paths["documents"]),
                                             threshold=0.8) \
                .select("a_id", "b_id", "jaccard")
        if kind == "phash":
            docs = read(self.paths["documents"]).where(
                F.col("doc_id") < self.PHASH_DOCS)
            return multimodal.phash_clusters(
                multimodal.synth_jpeg_scaled_media(docs)) \
                .select("rep", "n_members", "n_sizes")
        emb = read(self.paths["embeddings"])
        queries = (emb.where(F.col("vec_id") < 5)
                   .select(F.col("vec_id").alias("query_id"), "embedding"))
        out = (similarity.cosine_topk(emb, queries, k=5)
               if kind == "cosine_topk" else
               similarity.ann_lsh_topk(emb, queries, k=5, dim=gen.EMB_DIM))
        return out.select("query_id", "vec_id", "sim",
                          F.col("rank").cast("long").alias("rank"))

    def run(self, clock: Clock, kind: str) -> Tuple[str, float, bool]:
        with clock.op(kind) as t:
            df = self._plan(kind)
            with clock.span("ops.exec"):
                rows = df.collect()
        return kind, t.seconds, _rows_match(rows, self.oracle[kind])


WORKLOADS = {w.name: w for w in (Lake, PipelineOps)}
