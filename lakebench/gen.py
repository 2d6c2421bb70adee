"""Seeded input generators and the driver-side models that check outputs.

Everything here is a pure function of the seed: the same seed gives the
same rows, the same Parquet bytes and the same operation stream. The
program under test only ever sees the generated inputs.

Data files are written with pyarrow and committed through the program's
own transaction API (``DeltaLog.start_transaction().commit``), so the
fixtures are built the way an ingest job that writes its own Parquet
would build them, and checkpoints are written by the program's
post-commit hook at the table's checkpoint interval.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass, field
from typing import Dict, List, Optional, Tuple

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# The lake table's schema: `day` is the partition column; `v` values of one
# file lie in a narrow band so min/max stats can skip files for a range
# predicate on `v`.
SCHEMA_JSON = json.dumps({"type": "struct", "fields": [
    {"name": "id", "type": "long", "nullable": True, "metadata": {}},
    {"name": "day", "type": "long", "nullable": True, "metadata": {}},
    {"name": "v", "type": "long", "nullable": True, "metadata": {}},
    {"name": "x", "type": "double", "nullable": True, "metadata": {}},
]})
V_RANGE = 1_000_000
V_BAND = 20_000


@dataclass
class DataFile:
    day: int
    id: np.ndarray
    v: np.ndarray
    x: np.ndarray


def _file_rows(rng, day: int, first_id: int, rows: int) -> DataFile:
    base = int(rng.integers(0, V_RANGE - V_BAND))
    return DataFile(day=day,
                    id=np.arange(first_id, first_id + rows, dtype=np.int64),
                    v=np.sort(rng.integers(base, base + V_BAND, rows)
                              ).astype(np.int64),
                    x=rng.random(rows))


def _stats(f: DataFile) -> str:
    return json.dumps({
        "numRecords": int(len(f.id)),
        "minValues": {"id": int(f.id.min()), "v": int(f.v.min()),
                      "x": float(f.x.min())},
        "maxValues": {"id": int(f.id.max()), "v": int(f.v.max()),
                      "x": float(f.x.max())},
        "nullCount": {"id": 0, "v": 0, "x": 0}}, separators=(",", ":"))


def write_data_file(table_path: str, rel: str, f: DataFile) -> int:
    """Write one data file at ``rel`` under the table; returns its size."""
    full = os.path.join(table_path, rel)
    os.makedirs(os.path.dirname(full), exist_ok=True)
    pq.write_table(pa.table({"id": f.id, "v": f.v, "x": f.x}), full)
    return os.path.getsize(full)


def commit_files(log, table_path: str, version: int, files: List[DataFile],
                 configuration: Optional[Dict[str, str]] = None) -> int:
    """Write ``files`` and commit them as one append through the program's
    transaction API; the first commit also creates the table."""
    from connectors_spark import AddFile, Metadata
    adds = []
    for i, f in enumerate(files):
        rel = f"day={f.day}/part-{version:05d}-{i:04d}.parquet"
        size = write_data_file(table_path, rel, f)
        adds.append(AddFile(path=rel, partitionValues={"day": str(f.day)},
                            size=size,
                            modificationTime=int(time.time() * 1000),
                            dataChange=True, stats=_stats(f)))
    txn = log.start_transaction()
    if version == 0:
        txn.update_metadata(Metadata(
            id=str(uuid.uuid4()), schemaString=SCHEMA_JSON,
            partitionColumns=["day"],
            configuration=dict(configuration or {}),
            createdTime=int(time.time() * 1000)))
    return txn.commit(adds, "WRITE", {"mode": "Append"})


# --------------------------------------------------------------------- lake

# The fixture: LAKE_COMMITS appends of FILES_PER_COMMIT small files each
# over LAKE_DAYS day partitions.
LAKE_COMMITS = 52
FILES_PER_COMMIT = 20
ROWS_PER_FILE = 20
LAKE_DAYS = 60
# A checkpoint every four commits, the commits of one cycle, so every
# cycle writes exactly one checkpoint (in its UPDATE); change data feed on.
CHECKPOINT_INTERVAL = 4
LAKE_CONF = {"delta.enableChangeDataFeed": "true",
             "delta.checkpointInterval": str(CHECKPOINT_INTERVAL)}
# Time-travel targets: checkpoint 8 plus a one- to three-commit JSON tail,
# 200 to 240 files, so the version drawn moves a read's cost little.
TRAVEL_VERSIONS = (9, 10, 11)
# One cycle's writes: rows of a sink append, and of a MERGE the keys
# drawn from the newest MERGE_DAYS days plus MERGE_NEW new keys.
APPEND_ROWS = 200
MERGE_ROWS = 100
MERGE_NEW = 50
MERGE_DAYS = 4


@dataclass
class LakeFixture:
    """The lake table's history: ``commits[v]`` holds the files of v."""
    commits: List[List[DataFile]]

    def rows_at(self, version: int) -> Tuple[np.ndarray, ...]:
        fs = [f for c in self.commits[:version + 1] for f in c]
        return (np.concatenate([f.id for f in fs]),
                np.concatenate([np.full(len(f.id), f.day) for f in fs]),
                np.concatenate([f.v for f in fs]))


def _first_day(commit: int) -> int:
    """Commit c lands files in days [_first_day(c), _first_day(c) + 8)."""
    return int(commit * (LAKE_DAYS - 8) / LAKE_COMMITS)


def lake_fixture(seed: int) -> LakeFixture:
    """An append-only, day-partitioned history: commit c lands files in a
    window of days that advances with c, like daily ingestion with late
    data. 52 commits leave the latest snapshot at checkpoint 48 plus a
    three-commit JSON tail."""
    rng = np.random.default_rng([seed, 1])
    out, next_id = [], 0
    for c in range(LAKE_COMMITS):
        lo = _first_day(c)
        files = []
        for _ in range(FILES_PER_COMMIT):
            f = _file_rows(rng, int(rng.integers(lo, lo + 8)), next_id,
                           ROWS_PER_FILE)
            next_id += ROWS_PER_FILE
            files.append(f)
        out.append(files)
    return LakeFixture(commits=out)


@dataclass
class LakeModel:
    """Driver-side model of the lake table: current rows plus the change
    rows of each version."""
    rows: Dict[int, List[int]] = field(default_factory=dict)  # id -> [day, v]
    by_day: Dict[int, set] = field(default_factory=dict)
    changes: Dict[int, List[Tuple[str, int, int]]] = field(
        default_factory=dict)
    version: int = -1
    rows_changed: int = 0

    def insert(self, ids, days, vs, out: List) -> None:
        for i, d, v in zip(ids, days, vs):
            self.rows[int(i)] = [int(d), int(v)]
            self.by_day.setdefault(int(d), set()).add(int(i))
            out.append(("insert", int(i), int(v)))

    def commit(self, ch: List[Tuple[str, int, int]]) -> None:
        self.version += 1
        self.changes[self.version] = ch
        self.rows_changed += sum(1 for c in ch
                                 if c[0] in ("insert", "delete",
                                             "update_postimage"))

    def scan(self, day_lo: int, day_hi: int, v_lo: int, v_hi: int):
        n = s_id = s_v = 0
        for d in range(day_lo, day_hi + 1):
            for i in self.by_day.get(d, ()):
                v = self.rows[i][1]
                if v_lo <= v < v_hi:
                    n += 1
                    s_id += i
                    s_v += v
        return n, s_id, s_v

    def changes_between(self, lo: int, hi: int) -> Dict[str, Tuple[int, int]]:
        """change type -> (rows, sum(id)) over versions [lo, hi]."""
        out: Dict[str, List[int]] = {}
        for v in range(lo, hi + 1):
            for kind, i, _ in self.changes.get(v, ()):
                acc = out.setdefault(kind, [0, 0])
                acc[0] += 1
                acc[1] += i
        return {k: (a[0], a[1]) for k, a in out.items()}


def lake_model(fx: LakeFixture) -> LakeModel:
    model = LakeModel()
    for files in fx.commits:
        ch: List = []
        for f in files:
            model.insert(f.id, np.full(len(f.id), f.day), f.v, ch)
        model.commit(ch)
    model.rows_changed = 0
    return model


def build_lake_table(spark, path: str, fx: LakeFixture) -> None:
    from connectors_spark.table import DeltaLog
    os.makedirs(path, exist_ok=True)
    log = DeltaLog.for_table(spark, path)
    for v, files in enumerate(fx.commits):
        commit_files(log, path, v, files, LAKE_CONF)
        if v == 0:
            # An ingest job that checks what it wrote: reading the table
            # size materializes the snapshot's file inventory, which the
            # program then carries forward commit by commit.
            log.snapshot().state_summary()


@dataclass
class LakeOp:
    # append | replay | merge | delete | update | scan | cdf | warm_scan
    # | time_travel
    kind: str
    frame: Optional[pd.DataFrame] = None
    batch_id: int = -1
    key: int = -1
    day: int = -1
    day_lo: int = -1
    day_hi: int = -1          # inclusive
    v_lo: int = 0
    v_hi: int = 0             # exclusive
    version: Optional[int] = None


class LakeOps:
    """Seeded operation stream over a live :class:`LakeModel`.

    One cycle is CDC-style ingestion followed by reads:

    - one sink append to the newest day, one replay of an earlier batch
      id and one MERGE;
    - a pruned scan of the newest days, which hold the appended and
      merged rows: the first read after a write;
    - a pruned scan of four middle days (``warm_scan``), which meets the
      snapshot the first scan already materialized;
    - one DELETE of a key, one UPDATE of a partition and one change-feed
      read over the last three versions, which checks the MERGE, DELETE
      and UPDATE row by row;
    - one cold time-travel read to a version of ``TRAVEL_VERSIONS``.

    MERGE keys come from the newest ``MERGE_DAYS`` days, favouring the
    most recent (geometric over the age of the day), plus new keys on the
    newest day. DELETE, UPDATE and the warm scan pick among the middle
    days, where every day holds about the same number of files, so the
    parameters drawn move an operation's cost little. Not every commit
    gets a scan of its own: a scan costs as much as a small commit, and
    the change-feed read checks the DELETE and UPDATE."""

    def __init__(self, seed: int, model: LakeModel):
        self.rng = np.random.default_rng([seed, 4])
        self.model = model
        self.next_batch = 0
        self.batches: Dict[int, pd.DataFrame] = {}
        self.next_new: Dict[int, int] = {}

    def _new_ids(self, day: int, n: int) -> np.ndarray:
        # fixture ids stay below 10^6; new keys of a day start above it
        start = self.next_new.get(day, (day + 1) * 1_000_000)
        self.next_new[day] = start + n
        return np.arange(start, start + n, dtype=np.int64)

    def _frame(self, ids, days, vs) -> pd.DataFrame:
        return pd.DataFrame({"id": np.asarray(ids, dtype=np.int64),
                             "day": np.asarray(days, dtype=np.int64),
                             "v": np.asarray(vs, dtype=np.int64),
                             "x": np.zeros(len(ids))})

    def _middle_day(self) -> int:
        # a day that holds rows, so a DELETE or UPDATE there changes some
        while True:
            day = int(self.rng.integers(8, LAKE_DAYS - 12))
            if self.model.by_day.get(day):
                return day

    def _scan(self, kind: str, day_lo: int, day_hi: int,
              width: int) -> LakeOp:
        v_lo = int(self.rng.integers(0, V_RANGE - width))
        return LakeOp(kind, day_lo=day_lo, day_hi=day_hi, v_lo=v_lo,
                      v_hi=v_lo + width)

    def _append(self) -> LakeOp:
        day = LAKE_DAYS - 1
        base = int(self.rng.integers(0, V_RANGE - V_BAND))
        vs = np.sort(self.rng.integers(base, base + V_BAND, APPEND_ROWS))
        b = self.next_batch
        self.next_batch += 1
        self.batches[b] = self._frame(self._new_ids(day, APPEND_ROWS),
                                      np.full(APPEND_ROWS, day), vs)
        return LakeOp("append", frame=self.batches[b], batch_id=b)

    def _merge(self) -> LakeOp:
        ages = np.minimum(self.rng.geometric(0.6, MERGE_ROWS) - 1,
                          MERGE_DAYS - 1)
        keys, pools = {}, {}
        for age in ages:
            day = LAKE_DAYS - 1 - int(age)
            if day not in pools:
                # sorted() keeps the draw independent of set order
                pools[day] = sorted(self.model.by_day.get(day, ()))
            if pools[day]:
                keys[pools[day][int(self.rng.integers(
                    0, len(pools[day])))]] = day
        day = LAKE_DAYS - 1
        for i in self._new_ids(day, MERGE_NEW):
            keys[int(i)] = day
        ids = sorted(keys)
        vs = self.rng.integers(0, V_RANGE, len(ids))
        return LakeOp("merge", frame=self._frame(
            ids, [keys[i] for i in ids], vs),
            day_lo=LAKE_DAYS - MERGE_DAYS, day_hi=day)

    def _delete(self) -> LakeOp:
        day = self._middle_day()
        pool = sorted(self.model.by_day[day])
        return LakeOp("delete", key=pool[int(self.rng.integers(
            0, len(pool)))], day=day)

    def cycle(self) -> List[LakeOp]:
        """The next cycle, drawn from the model as it stands; no operation
        of a cycle invalidates a later one's draw."""
        recent = (LAKE_DAYS - MERGE_DAYS, LAKE_DAYS - 1)
        ops = [self._append()]
        b = int(self.rng.integers(0, self.next_batch))
        ops.append(LakeOp("replay", frame=self.batches[b], batch_id=b))
        ops += [self._merge(), self._scan("scan", *recent, V_RANGE // 2)]
        lo = self._middle_day()
        ops.append(self._scan("warm_scan", lo, lo + 3, V_RANGE // 4))
        ops += [self._delete(), LakeOp("update", day=self._middle_day()),
                LakeOp("cdf")]
        version = int(self.rng.choice(TRAVEL_VERSIONS))
        last_day = _first_day(version) + 7
        lo = int(self.rng.integers(0, last_day - 6))
        v_lo = int(self.rng.integers(0, V_RANGE // 2))
        ops.append(LakeOp("time_travel", day_lo=lo, day_hi=lo + 7,
                          v_lo=v_lo, v_hi=v_lo + V_RANGE // 4,
                          version=version))
        return ops


def read_oracle(fx: LakeFixture, op: LakeOp) -> Tuple[int, int, int]:
    """(count, sum(id), sum(v)) a time-travel read must return."""
    ids, days, vs = fx.rows_at(op.version)
    m = ((days >= op.day_lo) & (days <= op.day_hi)
         & (vs >= op.v_lo) & (vs < op.v_hi))
    return int(m.sum()), int(ids[m].sum()), int(vs[m].sum())


# ------------------------------------------------------------ pipeline_ops

_VOCAB = ("batch part spark line column order small sort fast value scan a "
          "hash slow group agg filter query key window row table stream "
          "merge data big vector join delta log commit file page index "
          "cache shard node task stage plan byte").split()


# The pipeline inputs: N_DOCS documents, DUP_SHARE of them near-duplicates,
# and N_VECS vectors of EMB_DIM dimensions around CLUSTERS centres.
N_DOCS = 1000
DUP_SHARE = 0.15
N_VECS = 1200
EMB_DIM = 64
CLUSTERS = 24


def documents(seed: int) -> pa.Table:
    """Documents with the schema of the registry's `documents` table; a
    seeded share are near-duplicates of an earlier document (one token
    replaced or appended), so the dedup operators find real pairs."""
    rng = np.random.default_rng([seed, 5])
    weights = 1.0 / np.arange(1, len(_VOCAB) + 1)
    weights /= weights.sum()
    texts: List[str] = []
    n = N_DOCS
    for i in range(n):
        if i > 10 and rng.random() < DUP_SHARE:
            toks = texts[int(rng.integers(0, i))].split()
            if rng.random() < 0.5:
                toks[-1] = _VOCAB[int(rng.integers(0, len(_VOCAB)))]
            else:
                toks.append(_VOCAB[int(rng.integers(0, len(_VOCAB)))])
        else:
            k = int(rng.integers(12, 60))
            toks = [_VOCAB[j] for j in rng.choice(len(_VOCAB), k, p=weights)]
        texts.append(" ".join(toks))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([("en", "de", "fr", "zh")[j]
                          for j in rng.integers(0, 4, n)]),
        "source": pa.array([f"src{j}" for j in rng.integers(0, 10, n)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64())})


def embeddings(seed: int) -> pa.Table:
    """Clustered vectors with the registry's `embeddings` schema
    (vec_id, embedding: array<float>, label)."""
    rng = np.random.default_rng([seed, 6])
    n, dim, clusters = N_VECS, EMB_DIM, CLUSTERS
    centers = rng.normal(size=(clusters, dim))
    label = rng.integers(0, clusters, n)
    vecs = ((centers[label] + 0.35 * rng.normal(size=(n, dim)))
            / np.sqrt(dim)).astype(np.float32)
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets,
                                              pa.array(vecs.ravel())),
        "label": pa.array(label.astype(np.int32))})


def write_pipeline_inputs(seed: int, out_dir: str) -> Dict[str, str]:
    """Write the pipeline inputs as Parquet; returns table -> path."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, table in (("documents", documents(seed)),
                        ("embeddings", embeddings(seed))):
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, paths[name])
    return paths
