"""Snapshot: the state of a Delta table at one version, as DataFrames.

Spark-first re-expression of the reference's snapshot machinery:

- protocol & metadata: reverse replay with short-circuit
  (``SnapshotImpl.loadTableProtocolAndMetadata``, SnapshotImpl.scala:164-246)
  -- done driver-side over the bounded post-checkpoint tail (a checkpoint
  caps it at ``checkpointInterval`` small JSON files) plus a column-pruned
  pyarrow read of the checkpoint for the rare fallback.
- state reconstruction (``InMemoryLogReplay.append``,
  InMemoryLogReplay.scala:51-84) -- done as ONE distributed pass: a window
  dedup over (add ∪ remove) keyed by canonical path, newest version wins.
  This scales to checkpoints with millions of AddFiles because the shuffle
  is on ``path`` (unique, unskewed) and Parquet/JSON parsing happens on
  executors.
- table data read (``SnapshotImpl.open`` + CloseableParquetDataIterator,
  SnapshotImpl.scala:107-116) -- ``spark.read.parquet`` over the active
  files; partition values are reassembled from ``AddFile.partitionValues``
  (never parsed from paths: DeltaInputFormat.scala:33-53), via Spark's own
  partition-dir discovery when the layout provably agrees with the log, else
  via a broadcast path->values join.
"""

from __future__ import annotations

import json
import os
import time
import urllib.parse
from functools import cached_property
from typing import Dict, List, Optional, Sequence, Tuple

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import filenames as fn
from .actions import (ADD_SCHEMA, SINGLE_ACTION_SCHEMA, AddFile, Metadata,
                      Protocol, from_json_line)
from .logstore import LogStore, strip_scheme
from .segment import LogSegment

MAX_READER_VERSION = 1


def _decode_path(p: str) -> str:
    return urllib.parse.unquote(p)


def canonical_path(p: str, table_path: str) -> str:
    """Absolute posix path for a log ``path`` entry (URI-decoded; relative
    paths resolve against the table root). Mirrors
    SnapshotImpl.canonicalizePath (SnapshotImpl.scala:349-362).

    IDEMPOTENT on its own output (r15 correctness fix): a bare
    ``/``-absolute input is already canonical/PHYSICAL and is returned
    as-is — Spark's Hive dir escaping puts literal ``%XX`` bytes into
    directory names (partition values containing ``=``, ``/``, ``%``…),
    so decoding a physical path a second time corrupts it. Before the
    fix, re-canonicalizing inventory-derived paths made DML removes and
    rewrite subsets silently miss every file in such partitions (the
    logged REMOVE path no longer matched its ADD). Our writer never
    emits bare-absolute paths into the log (relativize produces
    relative or ``file://``-quoted), so log-domain inputs are
    unaffected."""
    if p.startswith("/"):
        return p
    d = _decode_path(p)
    if "://" in d:
        rest = d.split("://", 1)[1]
        slash = rest.find("/")
        return rest[slash:] if slash >= 0 else "/"
    if d.startswith("file:"):
        return d[len("file:"):]
    if d.startswith("/"):
        return d
    return table_path.rstrip("/") + "/" + d


def _files_row_factory():
    """Row factory matching files_df's column order exactly —
    incremental snapshot updates build rows through this so a seeded
    inventory is field-compatible with a replayed one (named access +
    ``__fields__``)."""
    from pyspark.sql import Row
    return Row(*_FILES_SCHEMA.names)


def apply_tail_to_files_rows(prev_rows: Sequence, tail, table_path: str
                             ) -> List:
    """Incremental state update (delta-spark's InMemoryLogReplay
    incremental path, r14): apply the tail commits' add/remove actions
    over a previous Snapshot's materialized inventory, driver-side —
    O(tail actions), no Spark job, no checkpoint re-read.

    ``tail`` is an iterable of (version, actions) in ascending version
    order. Equivalence with the distributed window dedup: the previous
    rows ARE latest-active-per-path at the previous version, and within
    one version an add beats a remove of the same path (the window's
    is_add tiebreak), so sequential remove-then-add per version yields
    the identical final state."""
    from .actions import RemoveFile
    row = _files_row_factory()
    state = {r["path"]: r for r in prev_rows}
    for v, actions in tail:
        adds = {}
        removes = set()
        for a in actions:
            if isinstance(a, AddFile):
                adds[canonical_path(a.path, table_path)] = a
            elif isinstance(a, RemoveFile):
                removes.add(canonical_path(a.path, table_path))
        for p in removes:
            if p not in adds:
                state.pop(p, None)
        for p, a in adds.items():
            state[p] = row(p, dict(a.partitionValues)
                           if a.partitionValues is not None else None,
                           a.size, a.modificationTime,
                           a.dataChange, a.stats,
                           dict(a.tags) if a.tags is not None else None,
                           a.baseRowId, a.defaultRowCommitVersion,
                           int(v))
    return list(state.values())


def _tombstone_row_factory():
    """Row factory matching ``_all_tombstones_df``'s column order —
    the tombstone-plane twin of :func:`_files_row_factory`."""
    from pyspark.sql import Row
    return Row(*_TOMBSTONE_SCHEMA.names)


# Explicit schemas for the materialized planes re-entering Spark as
# local relations (files_local_df, retained_tombstones) — each
# field-for-field the output of its distributed window plan
# (files_df: the add struct's fields plus the adding version;
# _all_tombstones_df), so a local relation never has to build that
# plan just to learn its schema.
_FILES_SCHEMA = T.StructType(
    ADD_SCHEMA.fields + [T.StructField("version", T.LongType())])

_TOMBSTONE_SCHEMA = T.StructType([
    T.StructField("path", T.StringType(), False),
    T.StructField("deletionTimestamp", T.LongType()),
    T.StructField("tags", T.MapType(T.StringType(), T.StringType())),
    T.StructField("extendedFileMetadata", T.BooleanType()),
    T.StructField("partitionValues",
                  T.MapType(T.StringType(), T.StringType())),
    T.StructField("size", T.LongType()),
    T.StructField("version", T.LongType()),
])


def apply_tail_to_tombstone_rows(prev_rows: Sequence, tail,
                                 table_path: str) -> List:
    """Incremental twin of :func:`apply_tail_to_files_rows` for the
    tombstone plane: a RemoveFile upserts its path's tombstone, an
    AddFile clears it (a re-added path is active again, so its latest
    action is no longer a remove). Within one version an add beats a
    remove of the same path — the window's ``is_add`` tiebreak — so
    removes are applied first and skipped when the same version re-adds
    the path."""
    from .actions import RemoveFile
    row = _tombstone_row_factory()
    state = {r["path"]: r for r in prev_rows}
    for v, actions in tail:
        adds = set()
        removes = {}
        for a in actions:
            if isinstance(a, AddFile):
                adds.add(canonical_path(a.path, table_path))
            elif isinstance(a, RemoveFile):
                removes[canonical_path(a.path, table_path)] = a
        for p, a in removes.items():
            if p not in adds:
                state[p] = row(
                    p, a.deletionTimestamp,
                    dict(a.tags) if a.tags is not None else None,
                    a.extendedFileMetadata,
                    dict(a.partitionValues)
                    if a.partitionValues is not None else None,
                    a.size, int(v))
        for p in adds:
            state.pop(p, None)
    return list(state.values())


def addfiles_from_rows(rows: Sequence) -> List[AddFile]:
    """Materialize ``files_df`` rows (any filtered subset) as AddFile
    actions — the bridge from the DataFrame file inventory to the
    driver-side action list a commit must enumerate."""
    return [AddFile(path=r["path"],
                    partitionValues=dict(r["partitionValues"] or {}),
                    size=r["size"] or 0,
                    modificationTime=r["modificationTime"] or 0,
                    dataChange=bool(r["dataChange"])
                    if r["dataChange"] is not None else True,
                    stats=r["stats"],
                    tags=dict(r["tags"]) if r["tags"] else None,
                    baseRowId=(r["baseRowId"]
                               if "baseRowId" in r.__fields__ else None),
                    defaultRowCommitVersion=(
                        r["defaultRowCommitVersion"]
                        if "defaultRowCommitVersion" in r.__fields__
                        else None))
            for r in rows]


# Physical column names for MATERIALIZED row ids (Delta protocol 'Row
# Tracking': rewriting operations persist each row's id / commit
# version into the data files so they survive the rewrite; files
# written by plain appends don't carry them and fall back to the fresh
# baseRowId + row_index form). The PER-TABLE names live in metadata
# configuration (spec: delta.rowTracking.materializedRowIdColumnName /
# materializedRowCommitVersionColumnName) so FOREIGN Delta clients can
# find the materialized columns after a rewrite; these module values
# are only the fallback for tables written before the keys existed.
MATERIALIZED_ROW_ID_COL = "_rt_row_id"
MATERIALIZED_ROW_COMMIT_COL = "_rt_row_commit_version"
RT_RID_NAME_KEY = "delta.rowTracking.materializedRowIdColumnName"
RT_RCV_NAME_KEY = "delta.rowTracking.materializedRowCommitVersionColumnName"


def materialized_rt_cols(meta) -> tuple:
    """(row-id, row-commit-version) PHYSICAL column names for this
    table, from the Row Tracking spec's metadata properties (recorded
    at enablement, txn.py); legacy engine defaults when absent."""
    conf = meta.configuration or {}
    return (conf.get(RT_RID_NAME_KEY, MATERIALIZED_ROW_ID_COL),
            conf.get(RT_RCV_NAME_KEY, MATERIALIZED_ROW_COMMIT_COL))


def _with_rt_fields(schema: T.StructType, rid: str,
                    rcv: str) -> T.StructType:
    """Read schema + the two nullable materialized-row-id columns —
    files that lack them scan as NULL (parquet schema evolution), which
    is exactly the fresh-row-id fallback condition."""
    return T.StructType(
        list(schema.fields)
        + [T.StructField(rid, T.LongType()),
           T.StructField(rcv, T.LongType())])


def canonical_path_col(col, table_path: str):
    """Column-expression twin of :func:`canonical_path` (used in the
    distributed state reconstruction).

    Spark's ``url_decode`` follows application/x-www-form-urlencoded
    and turns ``+`` into a space — but log paths are URIs, where ``+``
    is a literal (Python's ``unquote`` in :func:`canonical_path` gets
    this right; a delta-spark table partitioned on a value containing
    ``+`` is the interop case). Shield literal plus as %2B first so the
    decode round-trips it."""
    shielded = f"replace({col}, '+', '%2B')"
    d = F.coalesce(F.expr(f"try_url_decode({shielded})"), F.col(col))
    # Every branch must stay NON-NULL for a non-null input: a nullable
    # output makes every join keyed on the canonical path re-evaluate
    # this whole expression a second time inside the join's inserted
    # isnotnull() null-filter (one extra per-row regex+decode pass on
    # each DML target scan, measured r14). The file: branch therefore
    # strips from the coalesced decode — which is also what the Python
    # twin does (unquote never fails; it falls back to the raw string).
    return (
        F.when(d.rlike("^[a-zA-Z][a-zA-Z0-9+.-]*://"),
               F.regexp_replace(d, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*", ""))
        .when(d.startswith("file:"), F.substring(d, 6, 2147483647))
        .when(d.startswith("/"), d)
        .otherwise(F.concat(F.lit(table_path.rstrip("/") + "/"), d))
    )


class Snapshot:
    """Immutable view of the table at ``segment.version``."""

    def __init__(self, spark: SparkSession, table_path: str,
                 segment: LogSegment, store: LogStore,
                 min_file_retention_ts: Optional[int] = None):
        self.spark = spark
        self.table_path = strip_scheme(table_path).rstrip("/")
        self.segment = segment
        self.store = store
        self._min_file_retention_ts = min_file_retention_ts
        self._pm: Optional[Tuple[Protocol, Metadata]] = None
        self._set_txns: Optional[Dict[str, int]] = None

    @property
    def version(self) -> int:
        return self.segment.version

    # ------------------------------------------------------------------
    # Protocol & metadata (driver-side reverse replay, A2)
    # ------------------------------------------------------------------

    def _replay_driver_side(self):
        """Scan post-checkpoint deltas newest->oldest for P&M and txns;
        fall back to a column-pruned checkpoint read. The tail is bounded
        by the checkpoint interval, so this is O(interval) small files."""
        protocol: Optional[Protocol] = None
        metadata: Optional[Metadata] = None
        txns: Dict[str, int] = {}
        for path in reversed(self.segment.deltas):
            for line in self.store.read(path):
                a = from_json_line(line)
                if isinstance(a, Protocol) and protocol is None:
                    protocol = a
                elif isinstance(a, Metadata) and metadata is None:
                    metadata = a
                else:
                    app = getattr(a, "appId", None)
                    if app is not None and app not in txns:
                        txns[app] = a.version
        # The checkpoint must ALWAYS be read for SetTransactions: the
        # post-checkpoint tail only proves which appIds committed since
        # the checkpoint — older appIds' watermarks live solely in the
        # checkpoint's txn column. P&M columns are pruned from the read
        # when the tail already supplied them.
        if self.segment.checkpoint_files:
            need_pm = protocol is None or metadata is None
            wanted = ("protocol", "metaData", "txn") if need_pm else ("txn",)
            import pyarrow.parquet as pq
            for cf in self.segment.checkpoint_files:
                tbl = pq.read_table(cf, columns=[
                    c for c in wanted
                    if c in pq.read_schema(cf).names])
                for row in tbl.to_pylist():
                    p, m, x = row.get("protocol"), row.get("metaData"), row.get("txn")
                    if p and p.get("minReaderVersion") is not None and protocol is None:
                        protocol = Protocol(
                            p["minReaderVersion"], p["minWriterVersion"],
                            readerFeatures=(list(p["readerFeatures"])
                                            if p.get("readerFeatures")
                                            is not None else None),
                            writerFeatures=(list(p["writerFeatures"])
                                            if p.get("writerFeatures")
                                            is not None else None))
                    if m and m.get("id") and metadata is None:
                        from .actions import Format
                        fmt = m.get("format") or {}
                        metadata = Metadata(
                            id=m.get("id", ""), name=m.get("name"),
                            description=m.get("description"),
                            format=Format(fmt.get("provider", "parquet"),
                                          fmt.get("options") or {}),
                            schemaString=m.get("schemaString", ""),
                            partitionColumns=list(m.get("partitionColumns") or []),
                            configuration=dict(m.get("configuration") or {}),
                            createdTime=m.get("createdTime"))
                    if x and x.get("appId") and x["appId"] not in txns:
                        txns[x["appId"]] = x["version"]
        if protocol is None or metadata is None:
            raise ValueError(
                f"Delta log at {self.table_path} has no protocol/metadata "
                f"(version {self.version})")
        # W9 extended: the reference gates read <= 1 (assertProtocolRead);
        # this engine additionally implements reader 2 (column mapping)
        # and reader 3 with features {columnMapping, deletionVectors}
        # (log/features.py) so its own opt-in protocol upgrades stay
        # readable. Anything beyond still fails loudly.
        from .features import assert_readable
        assert_readable(protocol, self.table_path)
        self._pm = (protocol, metadata)
        self._set_txns = txns

    @property
    def protocol(self) -> Protocol:
        if self._pm is None:
            self._replay_driver_side()
        return self._pm[0]

    @property
    def metadata(self) -> Metadata:
        if self._pm is None:
            self._replay_driver_side()
        return self._pm[1]

    @property
    def set_transactions(self) -> Dict[str, int]:
        """Last SetTransaction version per appId (InMemoryLogReplay.scala:56-57)."""
        if self._set_txns is None:
            self._replay_driver_side()
        return dict(self._set_txns)

    def txn_version(self, app_id: str) -> int:
        return self.set_transactions.get(app_id, -1)

    @cached_property
    def domain_metadata(self) -> Dict[str, str]:
        """Active metadata domains: ``domain -> configuration`` (Delta
        protocol 'Domain Metadata' replay: latest action per domain
        wins; a removed=True tombstone hides the domain — including one
        an older checkpoint still carries). Driver-side reverse walk of
        the post-checkpoint tail (compacted substitutes carry the net
        action per domain), then the checkpoint's domainMetadata column
        for domains the tail didn't touch — the same bounded budget as
        the P&M replay."""
        from .actions import DomainMetadata
        seen: Dict[str, Optional[str]] = {}
        for path in reversed(self.segment.deltas):
            for line in self.store.read(path):
                a = from_json_line(line)
                if isinstance(a, DomainMetadata) and a.domain not in seen:
                    seen[a.domain] = None if a.removed else a.configuration
        if self.segment.checkpoint_files:
            import pyarrow.parquet as pq
            for cf in self.segment.checkpoint_files:
                if "domainMetadata" not in pq.read_schema(cf).names:
                    continue
                tbl = pq.read_table(cf, columns=["domainMetadata"])
                for row in tbl.to_pylist():
                    dm = row.get("domainMetadata")
                    if dm and dm.get("domain") and dm["domain"] not in seen:
                        seen[dm["domain"]] = (None if dm.get("removed")
                                              else dm.get("configuration")
                                              or "")
        return {d: c for d, c in seen.items() if c is not None}

    # ------------------------------------------------------------------
    # Actions DataFrame (S2: checkpoint + delta load)
    # ------------------------------------------------------------------

    def _conform(self, df: DataFrame) -> DataFrame:
        """Project any actions-shaped DataFrame (e.g. a checkpoint written by
        another engine with extra nested fields) onto SINGLE_ACTION_SCHEMA."""
        cols = []
        have = {f.name: f.dataType for f in df.schema.fields}
        for f in SINGLE_ACTION_SCHEMA.fields:
            if f.name not in have:
                cols.append(F.lit(None).cast(f.dataType).alias(f.name))
                continue
            sub = have[f.name]
            if isinstance(sub, T.StructType):
                subnames = set(sub.names)
                inner = [
                    (F.col(f"{f.name}.{sf.name}").cast(sf.dataType)
                     if sf.name in subnames else F.lit(None).cast(sf.dataType)
                     ).alias(sf.name)
                    for sf in f.dataType.fields
                ]
                cols.append(F.when(F.col(f.name).isNotNull(),
                                   F.struct(*inner)).alias(f.name))
            else:
                cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        extra = [c for c in ("version", "is_checkpoint") if c in df.columns]
        return df.select(*cols, *extra)

    def _v2_sidecar_paths(self, manifest: str) -> List[str]:
        """Absolute paths of a v2 manifest's sidecar parquets (driver-
        side column-pruned read — the manifest is O(sidecars) rows)."""
        import pyarrow.parquet as pq
        if "sidecar" not in pq.read_schema(manifest).names:
            return []
        out = []
        for row in pq.read_table(manifest,
                                 columns=["sidecar"]).to_pylist():
            sc = row.get("sidecar")
            if sc and sc.get("path"):
                out.append(fn.sidecar_file(self.segment.log_path,
                                           sc["path"]))
        return out

    def actions_df(self) -> DataFrame:
        """All actions of the segment with ``version`` and ``is_checkpoint``
        columns. Executors parse the files in parallel (the reference's
        ParVector load, SnapshotImpl.scala:248-293, for free)."""
        parts = []
        if self.segment.deltas:
            # A compacted file (<start>.<end>.compacted.json) carries
            # NET actions — at most one per path — so attributing its
            # rows the range-END version preserves the window-dedup
            # ordering exactly (no intra-range ties can exist).
            comp_v = F.regexp_extract(F.input_file_name(),
                                      r"\d+\.(\d+)\.compacted\.json", 1)
            plain_v = F.regexp_extract(F.input_file_name(),
                                       r"(\d+)\.json", 1)
            d = (self.spark.read.json(list(self.segment.deltas),
                                      schema=SINGLE_ACTION_SCHEMA)
                 .withColumn("version",
                             F.when(comp_v != "", comp_v)
                             .otherwise(plain_v).cast("long"))
                 .withColumn("is_checkpoint", F.lit(False)))
            parts.append(self._conform(d))
        if self.segment.checkpoint_files:
            cfiles = list(self.segment.checkpoint_files)
            if len(cfiles) == 1 and fn.is_v2_checkpoint_file(cfiles[0]):
                # V2 checkpoint: the manifest carries P&M/txn/domain +
                # SidecarFile references; add/remove state lives in the
                # sidecar parquets. One explicit-schema read over
                # manifest + sidecars (per-file missing columns scan as
                # NULL) reconstructs the classic action set.
                cfiles = cfiles + self._v2_sidecar_paths(cfiles[0])
                c = (self.spark.read.schema(SINGLE_ACTION_SCHEMA)
                     .parquet(*cfiles)
                     .withColumn("version",
                                 F.lit(self.segment.checkpoint_version)
                                 .cast("long"))
                     .withColumn("is_checkpoint", F.lit(True)))
            else:
                c = (self.spark.read.parquet(*cfiles)
                     .withColumn("version",
                                 F.lit(self.segment.checkpoint_version)
                                 .cast("long"))
                     .withColumn("is_checkpoint", F.lit(True)))
            parts.append(self._conform(c))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    # ------------------------------------------------------------------
    # State reconstruction (S3/J1: one distributed window-dedup pass)
    # ------------------------------------------------------------------

    @cached_property
    def files_df(self) -> DataFrame:
        """Active AddFiles as a DataFrame:
        ``path`` (canonical absolute), ``partitionValues``, ``size``,
        ``modificationTime``, ``dataChange``, ``stats``, ``tags``, ``version``.

        Last action per path wins (version desc; an add beats a remove at
        the same version, matching sequential replay order of
        InMemoryLogReplay.scala:64-81)."""
        acts = self.actions_df()
        adds = acts.where(F.col("add.path").isNotNull()).select(
            canonical_path_col("add.path", self.table_path).alias("path"),
            F.col("add.partitionValues").alias("partitionValues"),
            F.col("add.size").alias("size"),
            F.col("add.modificationTime").alias("modificationTime"),
            F.col("add.dataChange").alias("dataChange"),
            F.col("add.stats").alias("stats"),
            F.col("add.tags").alias("tags"),
            F.col("add.baseRowId").alias("baseRowId"),
            F.col("add.defaultRowCommitVersion")
            .alias("defaultRowCommitVersion"),
            F.col("version"),
            F.lit(1).alias("is_add"),
        )
        removes = acts.where(F.col("remove.path").isNotNull()).select(
            canonical_path_col("remove.path", self.table_path).alias("path"),
            F.col("remove.partitionValues").alias("partitionValues"),
            F.lit(None).cast("long").alias("size"),
            F.lit(None).cast("long").alias("modificationTime"),
            F.col("remove.dataChange").alias("dataChange"),
            F.lit(None).cast("string").alias("stats"),
            F.col("remove.tags").alias("tags"),
            F.lit(None).cast("long").alias("baseRowId"),
            F.lit(None).cast("long").alias("defaultRowCommitVersion"),
            F.col("version"),
            F.lit(0).alias("is_add"),
        )
        w = Window.partitionBy("path").orderBy(F.desc("version"), F.desc("is_add"))
        return (adds.unionByName(removes)
                .withColumn("__rn", F.row_number().over(w))
                .where((F.col("__rn") == 1) & (F.col("is_add") == 1))
                .drop("__rn", "is_add"))

    @cached_property
    def tombstones_df(self) -> DataFrame:
        """RemoveFile tombstones younger than the retention window
        (InMemoryLogReplay.getTombstones, InMemoryLogReplay.scala:90-92)."""
        min_ts = self._min_file_retention_ts
        if min_ts is None:
            min_ts = int(time.time() * 1000) - 7 * 24 * 3600 * 1000
        return self.retained_tombstones(min_ts)

    def retained_tombstones(self, min_ts: int) -> DataFrame:
        """Latest-per-path RemoveFile tombstones with
        ``deletionTimestamp > min_ts``. VACUUM calls this with its own
        horizon: these paths (and their DV sidecars, via ``tags``) are
        protected state — the files they name must survive until the
        retention window passes (InMemoryLogReplay.scala:90-92;
        delta-spark's VACUUM protects by deletionTimestamp, not mtime).

        When the tombstone plane is already materialized (a prior
        checkpoint write, or the incremental post-commit seed), the
        horizon filter runs driver-side over the cached rows and the
        result is a local relation — no log replay (r14, guide §1.2);
        cold snapshots keep the distributed window plan."""
        if "_tombstone_rows" in self.__dict__:
            from ..localrel import local_rows_df
            rows = [r for r in self._tombstone_rows
                    if (r["deletionTimestamp"] or 0) > min_ts]
            return local_rows_df(self.spark, rows, _TOMBSTONE_SCHEMA)
        return (self._all_tombstones_df()
                .where(F.coalesce(F.col("deletionTimestamp"),
                                  F.lit(0)) > min_ts))

    @cached_property
    def _tombstone_rows(self) -> List:
        """ALL latest-per-path tombstones (no horizon), materialized
        once per Snapshot — the tombstone-plane twin of
        ``_files_rows``. Bounded by the paths removed-and-not-yet-
        readded, the same order of driver state as the active
        inventory."""
        rows = self._tombstone_rows_driver_side()
        if rows is not None:
            return rows
        return self._all_tombstones_df().collect()

    def _tombstone_rows_driver_side(self) -> Optional[List]:
        """Cold tombstone materialization WITHOUT a Spark job, when the
        segment shape allows (r14): a classic checkpoint re-emits its
        retained tombstones, so one driver-side pyarrow read of its
        ``remove`` column plus the raw JSON tail replayed through
        :func:`apply_tail_to_tombstone_rows` IS the tombstone plane —
        ~0.1 s where the distributed window job costs 1.5-2 s at bench
        scale. Returns None for every shape that needs the distributed
        plan (v2/multi-part/compacted segments, non-POSIX stores, a
        checkpoint too big to read single-process)."""
        from . import filenames as fn
        from .actions import from_json_line
        from .logstore import LogStore
        if type(self.store) is not LogStore:
            return None
        seg = self.segment
        cfiles = list(seg.checkpoint_files)
        if len(cfiles) > 1:
            return None
        if cfiles and fn.is_v2_checkpoint_file(cfiles[0]):
            return None
        if cfiles:
            try:
                if os.path.getsize(cfiles[0]) > 64 * 1024 * 1024:
                    return None
            except OSError:
                return None
        row = _tombstone_row_factory()
        state: Dict[str, object] = {}
        if cfiles:
            import pyarrow.parquet as pq
            try:
                col = pq.read_table(
                    cfiles[0], columns=["remove"]).column("remove")
            except Exception:   # noqa: BLE001 — e.g. schema w/o remove
                return None
            for d in col.to_pylist():
                if not d or d.get("path") is None:
                    continue
                p = canonical_path(d["path"], self.table_path)
                state[p] = row(
                    p, d.get("deletionTimestamp"),
                    dict(d["tags"]) if d.get("tags") is not None
                    else None,
                    d.get("extendedFileMetadata"),
                    dict(d["partitionValues"])
                    if d.get("partitionValues") is not None else None,
                    d.get("size"), int(seg.checkpoint_version))
        tail = []
        for pth in seg.deltas:
            name = os.path.basename(pth)
            if "compacted" in name:
                return None     # net-folded ranges: window plan only
            lines = self.store.read(pth)
            tail.append((fn.delta_version(name),
                         [a for a in (from_json_line(ln)
                                      for ln in lines) if a is not None]))
        return apply_tail_to_tombstone_rows(list(state.values()), tail,
                                            self.table_path)

    def _all_tombstones_df(self) -> DataFrame:
        """Latest-per-path RemoveFile tombstones, unfiltered — the
        distributed window-dedup plan shared by the horizon-filtered
        consumer and the per-Snapshot materialization."""
        acts = self.actions_df()
        removes = acts.where(F.col("remove.path").isNotNull()).select(
            canonical_path_col("remove.path", self.table_path).alias("path"),
            F.col("remove.deletionTimestamp").alias("deletionTimestamp"),
            F.col("remove.tags").alias("tags"),
            # extended file metadata rides along so a checkpoint can
            # re-emit the tombstone WITH its partitionValues/size and a
            # truthful extendedFileMetadata flag (ADVICE r13: writing
            # the flag false makes conforming readers drop the tags —
            # losing the DV-sidecar reference VACUUM protection needs)
            F.col("remove.extendedFileMetadata")
            .alias("extendedFileMetadata"),
            F.col("remove.partitionValues").alias("partitionValues"),
            F.col("remove.size").alias("size"),
            F.col("version"),
        )
        adds = acts.where(F.col("add.path").isNotNull()).select(
            canonical_path_col("add.path", self.table_path).alias("path"),
            F.lit(None).cast("long").alias("deletionTimestamp"),
            F.col("add.tags").alias("tags"),
            F.lit(None).cast("boolean").alias("extendedFileMetadata"),
            F.col("add.partitionValues").alias("partitionValues"),
            F.col("add.size").alias("size"),
            F.col("version"),
        ).withColumn("is_add", F.lit(1))
        removes = removes.withColumn("is_add", F.lit(0))
        w = Window.partitionBy("path").orderBy(F.desc("version"), F.desc("is_add"))
        return (adds.unionByName(removes)
                .withColumn("__rn", F.row_number().over(w))
                .where((F.col("__rn") == 1) & (F.col("is_add") == 0))
                .drop("__rn", "is_add"))

    @cached_property
    def _files_rows(self) -> List:
        """The active-file inventory, materialized ONCE per Snapshot.

        The reconstruction itself (``files_df`` — checkpoint read +
        delta JSON parse + distributed window dedup) still runs as a
        Spark job; this caches its RESULT. Every metadata consumer
        (``to_df``'s per-file row collect, DML touched-file scoping,
        scans, ``all_files``) previously re-ran the whole replay as its
        own Spark job — a MERGE paid it 4-5 times per commit (measured
        r14: 0.14-1.8 s per replay at bench scale, pure metadata-plane
        overhead). Driver memory is O(active files), which every one of
        those consumers already paid per call (``to_df`` collects the
        inventory by design, like the reference's driver-side
        in-memory state, DeltaLogImpl/SnapshotImpl); caching is
        strictly fewer copies. Bounded by the Snapshot's lifetime —
        a new version produces a new Snapshot and the old cache is
        GC'd with it."""
        rows = self._files_rows_driver_side()
        if rows is not None:
            return rows
        return self.files_df.collect()

    def _files_rows_driver_side(self) -> Optional[List]:
        """Cold active-file materialization WITHOUT a Spark job, when
        the segment shape allows (r15) — the files-plane twin of
        ``_tombstone_rows_driver_side``: seed the state from one
        driver-side pyarrow read of the checkpoint's ``add`` column,
        then replay the raw JSON tail through
        :func:`apply_tail_to_files_rows` (the r14-pinned incremental
        path). The result is what ``files_df.collect()`` returns minus
        the Spark job (~0.3-0.6 s per cold Snapshot at bench scale —
        paid per invocation by every query that creates fresh tables or
        time-travel snapshots). Returns None for every shape that needs
        the distributed plan: v2/multi-part checkpoints, compacted
        ranges, non-POSIX stores, or a checkpoint too big to parse
        single-process (at 100 TB the inventory is millions of rows —
        the executor-parallel replay stays the scale path)."""
        if type(self.store) is not LogStore:
            return None
        seg = self.segment
        cfiles = list(seg.checkpoint_files)
        if len(cfiles) > 1:
            return None
        if cfiles and fn.is_v2_checkpoint_file(cfiles[0]):
            return None
        if cfiles:
            try:
                if os.path.getsize(cfiles[0]) > 64 * 1024 * 1024:
                    return None
            except OSError:
                return None
        row = _files_row_factory()
        state: Dict[str, object] = {}
        if cfiles:
            import pyarrow.parquet as pq
            try:
                col = pq.read_table(
                    cfiles[0], columns=["add"]).column("add")
            except Exception:   # noqa: BLE001 — e.g. schema w/o add
                return None
            for d in col.to_pylist():
                if not d or d.get("path") is None:
                    continue
                p = canonical_path(d["path"], self.table_path)
                state[p] = row(
                    p,
                    dict(d["partitionValues"])
                    if d.get("partitionValues") is not None else None,
                    d.get("size"), d.get("modificationTime"),
                    d.get("dataChange"), d.get("stats"),
                    dict(d["tags"]) if d.get("tags") is not None
                    else None,
                    d.get("baseRowId"),
                    d.get("defaultRowCommitVersion"),
                    int(seg.checkpoint_version))
        tail = []
        for pth in seg.deltas:
            name = os.path.basename(pth)
            if "compacted" in name:
                return None     # net-folded ranges: window plan only
            lines = self.store.read(pth)
            tail.append((fn.delta_version(name),
                         [a for a in (from_json_line(ln)
                                      for ln in lines) if a is not None]))
        return apply_tail_to_files_rows(list(state.values()), tail,
                                        self.table_path)

    @cached_property
    def files_local_df(self) -> DataFrame:
        """The materialized inventory (``_files_rows``) as a local
        relation with ``files_df``'s rows and schema. Metadata-plane
        filters and joins (scan pruning, DML file scoping, checkpoint
        writes of a warm Snapshot) run against this instead of the log
        replay. Neither the replay nor its plan is built: the schema is
        the constant ``_FILES_SCHEMA``, and the rows cross into the JVM
        once as Arrow (see ``localrel``), landing in a
        ``LocalRelation`` that lives in the plan itself. The
        distributed ``files_df`` plan remains for its own consumers:
        the cold fallback of ``_files_rows``, checkpoint writes of cold
        snapshots, restore, clone and optimize."""
        from ..localrel import local_rows_df
        return local_rows_df(self.spark, self._files_rows, _FILES_SCHEMA)

    def all_files(self) -> List[AddFile]:
        """Collect active files to the driver. Only for callers whose
        COMMIT must enumerate every file anyway (whole-table overwrite/
        delete removes, clone, restore) and tests — DML paths that touch
        a subset should filter ``files_df`` and collect just that subset
        (see ``addfiles_from_rows``)."""
        return addfiles_from_rows(self._files_rows)

    # ------------------------------------------------------------------
    # Aggregates over state (A1)
    # ------------------------------------------------------------------

    def state_summary(self) -> Dict[str, int]:
        rows = self._files_rows
        return {"sizeInBytes": sum(r["size"] or 0 for r in rows),
                "numOfFiles": len(rows)}

    # ------------------------------------------------------------------
    # Data read (S7)
    # ------------------------------------------------------------------

    def _hive_layout_ok(self, paths: Sequence[str],
                        pvs: Sequence[Dict[str, Optional[str]]]) -> bool:
        """True iff every active file's directory layout encodes exactly the
        partition values recorded in the log, so Spark's own partition-dir
        discovery (basePath) is safe. Escaped-chars fidelity: we compare the
        DECODED dir value against the log value and fall back on mismatch
        (golden scenario data-reader-escaped-chars)."""
        # dir names and partitionValues keys live in the PHYSICAL name
        # domain under column mapping (identity when mode=none)
        pcols = self.metadata.physical_partition_columns
        for p, pv in zip(paths, pvs):
            # absolute-path adds (shallow clones) live outside the root:
            # basePath-relative partition discovery cannot see them
            if not p.startswith(self.table_path + "/"):
                return False
            rel = p[len(self.table_path):].lstrip("/")
            segs = rel.split("/")[:-1]
            if len(segs) < len(pcols):
                return False
            segs = segs[-len(pcols):] if pcols else []
            for col, seg in zip(pcols, segs):
                if "=" not in seg:
                    return False
                k, v = seg.split("=", 1)
                if k != col:
                    return False
                decoded = urllib.parse.unquote(v)
                want = (pv or {}).get(col)
                if want is None:
                    if decoded != "__HIVE_DEFAULT_PARTITION__":
                        return False
                elif decoded != want:
                    return False
        return True

    def _attach_partition_values(self, data: DataFrame,
                                 paths: Sequence[str],
                                 pvs: Sequence[Dict[str, Optional[str]]],
                                 keep_file: bool = False) -> DataFrame:
        """Broadcast-join ``path -> partitionValues`` onto ``data`` (which
        carries a canonical ``__file`` column), decoding the log's string
        values with the partition schema's types. Drops ``__file``
        unless ``keep_file``."""
        meta = self.metadata
        pcols = meta.physical_partition_columns
        pv_rows = [tuple([p] + [pv.get(c) for c in pcols])
                   for p, pv in zip(paths, pvs)]
        pv_schema = T.StructType(
            [T.StructField("__file", T.StringType())]
            + [T.StructField(f"__pv_{c}", T.StringType()) for c in pcols])
        from ..localrel import local_rows_df
        pv_df = local_rows_df(self.spark, pv_rows, pv_schema)
        for f in meta.physical_partition_schema.fields:
            pv_df = pv_df.withColumn(
                f.name, F.col(f"__pv_{f.name}").cast(f.dataType))
        pv_df = pv_df.drop(*[f"__pv_{c}" for c in pcols])
        out = data.join(F.broadcast(pv_df), "__file")
        return out if keep_file else out.drop("__file")

    def _read_plain(self, rows: Sequence, keep_file: bool = False,
                    keep_row_index: bool = False) -> DataFrame:
        """Scan for files with no deletion vector."""
        meta = self.metadata

        def ri(df):
            # the physical per-file row position, the fresh-row-id
            # offset — must be computed INSIDE the single-source scan,
            # like __file
            if keep_row_index:
                return df.withColumn("__ri",
                                     F.col("_metadata.row_index"))
            return df

        def sch(s):
            return _with_rt_fields(s, *materialized_rt_cols(meta)) \
                if keep_row_index else s

        paths = [r["path"] for r in rows]
        pcols = meta.partitionColumns
        if not pcols:
            df = ri(self.spark.read.schema(sch(meta.physical_schema))
                    .parquet(*paths))
            return self._with_file(df) if keep_file else df
        pvs = [dict(r["partitionValues"] or {}) for r in rows]
        if self._hive_layout_ok(paths, pvs):
            df = ri(self.spark.read
                    .option("basePath", self.table_path)
                    .schema(sch(meta.physical_schema))
                    .parquet(*paths))
            return self._with_file(df) if keep_file else df
        # the scan-time file path must be normalized the same way as
        # log paths (canonical_path_col)
        data = ri(self.spark.read
                  .schema(sch(meta.physical_data_schema))
                  .parquet(*paths))
        return self._attach_partition_values(
            self._with_file(data), paths, pvs, keep_file=keep_file)

    def _with_file(self, data: DataFrame) -> DataFrame:
        """Attach the canonical per-row ``__file`` column via the
        Parquet source's ``_metadata.file_path`` — unlike
        ``input_file_name()`` it stays legal when the plan later joins
        other sources (the DV anti-join, merge's source join)."""
        return (data.withColumn("__fn", F.col("_metadata.file_path"))
                .withColumn("__file",
                            canonical_path_col("__fn", self.table_path))
                .drop("__fn"))

    def _read_with_dv(self, rows: Sequence, keep_file: bool = False,
                      keep_row_index: bool = False) -> DataFrame:
        """Scan for files carrying a deletion vector: anti-join deleted
        ``(file, row_index)`` positions via the Parquet source's hidden
        ``_metadata`` columns — one extra hash join bounded by the
        deleted-row count, no rewrite ever read. With
        ``keep_row_index`` the PHYSICAL index survives the anti-join —
        a DV delete never renumbers the remaining rows, which is what
        keeps fresh row ids stable under it."""
        from ..dv import DV_TAG, apply_dv, dv_relation
        meta = self.metadata
        paths = [r["path"] for r in rows]
        pvs = [dict(r["partitionValues"] or {}) for r in rows]
        pairs = [(r["path"], dict(r["tags"])[DV_TAG]) for r in rows]
        dv = dv_relation(self.spark, self.table_path, pairs)
        sch = _with_rt_fields(meta.physical_data_schema,
                              *materialized_rt_cols(meta)) \
            if keep_row_index else meta.physical_data_schema
        data = (self.spark.read.schema(sch)
                .parquet(*paths)
                .withColumn("__fn", F.col("_metadata.file_path"))
                .withColumn("__ri", F.col("_metadata.row_index")))
        data = data.withColumn(
            "__file", canonical_path_col("__fn", self.table_path)).drop("__fn")
        data = apply_dv(data, dv)
        if not keep_row_index:
            data = data.drop("__ri")
        if not meta.partitionColumns:
            return data if keep_file else data.drop("__file")
        return self._attach_partition_values(data, paths, pvs,
                                             keep_file=keep_file)

    def to_df(self, files=None,
              residual=None, with_file_col: bool = False,
              with_row_ids: bool = False) -> DataFrame:
        """DataFrame of table rows for the active (optionally pruned) files.

        Partition values come from the log. Fast path: when the on-disk
        layout is Hive-style and provably consistent with
        ``partitionValues``, one ``spark.read`` with ``basePath`` lets the
        Parquet source prune/prune-down natively. General path: scan with
        the data schema and broadcast-join ``path -> partitionValues``
        on ``input_file_name()`` (single scan, no per-partition plan
        explosion at 100k+ partitions). Files carrying a deletion vector
        are scanned separately with the deleted positions anti-joined
        out (dv.py). ``with_file_col=True`` keeps a canonical
        ``__file`` column per row (the file that produced it) — DML
        file-discovery needs it, and computing it here (from
        ``_metadata.file_path`` inside each single-source scan) is the
        only placement that stays legal once DV anti-joins make the
        plan multi-source."""
        from ..dv import DV_TAG
        meta = self.metadata
        want_rid = with_row_ids
        keep_file = with_file_col or want_rid
        if files is None:
            # whole-table read: reuse the per-Snapshot materialized
            # inventory instead of re-running the log replay job
            rows = self._files_rows
        elif isinstance(files, (list, tuple)):
            # already-materialized inventory rows (DML paths filter
            # the Snapshot's cached inventory driver-side) — no
            # createDataFrame → collect round trip
            rows = list(files)
        else:
            sel = ["path", "partitionValues", "tags"]
            if want_rid:
                sel += ["baseRowId", "defaultRowCommitVersion"]
            rows = files.select(*sel).collect()
        if not rows:
            df = self.spark.createDataFrame([], meta.schema)
            if with_file_col:
                df = df.withColumn("__file",
                                   F.lit(None).cast("string"))
            if want_rid:
                df = (df.withColumn("_row_id", F.lit(None).cast("long"))
                      .withColumn("_row_commit_version",
                                  F.lit(None).cast("long")))
            return df.where(residual) if residual is not None else df
        plain = [r for r in rows if not ((r["tags"] or {}).get(DV_TAG))]
        dvd = [r for r in rows if (r["tags"] or {}).get(DV_TAG)]
        parts = [self._read_plain(plain, keep_file=keep_file,
                                  keep_row_index=want_rid)] \
            if plain else []
        if dvd:
            parts.append(self._read_with_dv(dvd, keep_file=keep_file,
                                            keep_row_index=want_rid))
        # Schema-order projection: Spark's file source appends partition
        # columns after data columns; the table contract is metadata
        # schema order (Snapshot.open ≍ SnapshotImpl.scala:107-116).
        extra = [F.col("__file")] if keep_file else []
        rid_c, rcv_c = materialized_rt_cols(meta)
        if want_rid:
            extra += [F.col("__ri"), F.col(rid_c), F.col(rcv_c)]
        # physical -> logical rename happens HERE, the one boundary
        # between the file plane and the table contract (identity when
        # column mapping is off)
        nmap = meta.name_map()
        parts = [p.select(*[F.col(nmap[f.name]).alias(f.name)
                            for f in meta.schema.fields],
                          *extra)
                 for p in parts]
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        if want_rid:
            # per-file base map from the LOG (broadcast, O(files)):
            # row id = materialized value when the file carries one
            # (written by a rewrite), else baseRowId + physical index
            from ..localrel import local_rows_df
            bdf = local_rows_df(
                self.spark,
                [(r["path"], r["baseRowId"],
                  r["defaultRowCommitVersion"]) for r in rows],
                "__file string, __base long, __dcv long")
            df = (df.join(F.broadcast(bdf), "__file")
                  .withColumn(
                      "_row_id",
                      F.coalesce(F.col(rid_c),
                                 F.col("__base") + F.col("__ri")))
                  .withColumn(
                      "_row_commit_version",
                      F.coalesce(F.col(rcv_c), F.col("__dcv")))
                  .drop("__ri", "__base", "__dcv", rid_c, rcv_c))
            if not with_file_col:
                df = df.drop("__file")
        if residual is not None:
            df = df.where(residual)
        return df
