"""Snapshot: the state of a Delta table at one version.

Spark-first re-expression of the reference's snapshot machinery:

- state reconstruction (``InMemoryLogReplay``, InMemoryLogReplay.scala:
  51-92): one log-replay kernel (``replay.LogReplay``) folds the
  post-checkpoint tail, read and parsed once per Snapshot, and the
  checkpoint's column groups on first use, into every state plane:
  protocol and metadata, set transactions, domain metadata, active
  files and tombstones. The post-commit seed (``DeltaLog.update``)
  carries the previous Snapshot's kernel forward and folds only the
  new commits.
- the file planes of a checkpoint too big for the driver
  (``replay.replays_on_driver``) come from ONE distributed pass
  instead: a window dedup over (add ∪ remove) keyed by canonical path,
  newest version wins (``files_df``, ``_all_tombstones_df``). The
  shuffle is on ``path`` (unique, unskewed) and Parquet/JSON parsing
  happens on executors; the plan is also the kernel's parity oracle.
- table data read (``SnapshotImpl.open`` + CloseableParquetDataIterator,
  SnapshotImpl.scala:107-116) -- ``spark.read.parquet`` over the active
  files; partition values are reassembled from ``AddFile.partitionValues``
  (never parsed from paths: DeltaInputFormat.scala:33-53), via Spark's own
  partition-dir discovery when the layout provably agrees with the log, else
  via a broadcast path->values join.
"""

from __future__ import annotations

import time
import urllib.parse
from functools import cached_property
from typing import Dict, List, Optional, Sequence, Tuple

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import filenames as fn
from .actions import SINGLE_ACTION_SCHEMA, AddFile, Metadata, Protocol
from .logstore import LogStore, strip_scheme
from .replay import (_FILES_SCHEMA, _TOMBSTONE_SCHEMA, FILES, HEADER,
                     LogReplay, canonical_path, checkpoint_parts,
                     read_tail, replays_on_driver)
from .segment import LogSegment

MAX_READER_VERSION = 1


def apply_tail_to_files_rows(state: Optional[LogReplay], tail,
                             table_path: str) -> LogReplay:
    """Fold ``tail`` -- ``(version, actions)`` pairs in ascending version
    order -- into the log-replay kernel ``state`` (a new, empty kernel
    for ``table_path`` when None) and return it. Every tail fold runs
    through this function: a cold Snapshot's post-checkpoint tail, the
    post-commit seed's new commits and the streaming source's initial
    snapshot. The lakebench tracer wraps it by this name (span
    ``log.replay_tail``)."""
    if state is None:
        state = LogReplay(table_path)
    for v, actions in tail:
        state.append(v, actions)
    return state


def replay_segment(store: LogStore, segment: LogSegment,
                   table_path: str) -> LogReplay:
    """A cold kernel for ``segment``: its post-checkpoint tail read,
    parsed and folded once. Checkpoint column groups are folded in on
    demand (``LogReplay.load``)."""
    return apply_tail_to_files_rows(None, read_tail(store, segment),
                                    table_path)


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

    @property
    def version(self) -> int:
        return self.segment.version

    # ------------------------------------------------------------------
    # Log replay: the kernel behind every state plane
    # ------------------------------------------------------------------

    @cached_property
    def _replay(self) -> LogReplay:
        """This Snapshot's log-replay kernel. Cold: the segment's tail is
        read, parsed and folded once here, and each checkpoint column
        group is folded in on first use. The post-commit seed
        (``_seed``) installs a carried-forward kernel instead."""
        return replay_segment(self.store, self.segment, self.table_path)

    def _seed(self, prev: "Snapshot", tail) -> None:
        """Carry ``prev``'s kernel forward over ``tail``, the commits
        (prev.version, self.version]. The file planes ``prev`` had
        materialized stay materialized here."""
        k = apply_tail_to_files_rows(prev._replay.copy(), tail,
                                     self.table_path)
        self.__dict__["_replay"] = k
        for plane, attr in (("files", "_files_rows"),
                            ("tombstones", "_tombstone_rows")):
            if attr in prev.__dict__:
                self.__dict__[attr] = list(getattr(k, plane).values())

    def _replay_driver_side(self):
        """Fill the header planes -- protocol, metadata, set transactions,
        domain metadata -- from the kernel, reading the checkpoint's
        header columns only when the kernel lacks them (a cold
        Snapshot), and check the protocol is readable."""
        k = self._replay
        k.load(self.segment, HEADER)
        if k.protocol is None or k.metadata is None:
            raise ValueError(
                f"Delta log at {self.table_path} has no protocol/metadata "
                f"(version {self.version})")
        # W9 extended: the reference gates read <= 1 (assertProtocolRead);
        # this engine additionally implements reader 2 (column mapping)
        # and reader 3 with features {columnMapping, deletionVectors}
        # (log/features.py) so its own opt-in protocol upgrades stay
        # readable. Anything beyond still fails loudly.
        from .features import assert_readable
        assert_readable(k.protocol, self.table_path)
        self._pm = (k.protocol, k.metadata)

    def _header(self) -> LogReplay:
        if self._pm is None:
            self._replay_driver_side()
        return self._replay

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
        return dict(self._header().txns)

    def txn_version(self, app_id: str) -> int:
        return self.set_transactions.get(app_id, -1)

    @property
    def domain_metadata(self) -> Dict[str, str]:
        """Active metadata domains: ``domain -> configuration`` (Delta
        protocol 'Domain Metadata' replay: latest action per domain
        wins; a removed=True tombstone hides the domain -- including one
        an older checkpoint still carries)."""
        return {d: c for d, c in self._header().domains.items()
                if c is not None}

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
            cfiles = checkpoint_parts(self.segment)
            if fn.is_v2_checkpoint_file(cfiles[0]):
                # V2 checkpoint: the manifest carries P&M/txn/domain +
                # SidecarFile references; add/remove state lives in the
                # sidecar parquets. One explicit-schema read over
                # manifest + sidecars (per-file missing columns scan as
                # NULL) reconstructs the classic action set.
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

    def _plane(self, plane: str, window_plan) -> List:
        """One file plane of the kernel as a row list: the checkpoint's
        add/remove columns folded in on the driver when
        ``replays_on_driver`` allows, else the rows of the distributed
        ``window_plan()`` adopted whole."""
        k = self._replay
        if plane not in k.loaded:
            if replays_on_driver(self.store, self.segment):
                k.load(self.segment, FILES)
            else:
                k.adopt(plane, window_plan().collect())
        return list(getattr(k, plane).values())

    @cached_property
    def _tombstone_rows(self) -> List:
        """ALL latest-per-path tombstones (no horizon), materialized
        once per Snapshot -- the tombstone-plane twin of
        ``_files_rows``. Bounded by the paths removed-and-not-yet-
        readded, the same order of driver state as the active
        inventory."""
        return self._plane("tombstones", self._all_tombstones_df)

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
        """The active-file inventory, materialized ONCE per Snapshot from
        the kernel (``_plane``). Every metadata consumer (``to_df``'s
        per-file rows, DML touched-file scoping, scans, ``all_files``)
        reads this list instead of replaying the log again. Driver
        memory is O(active files), like the reference's driver-side
        in-memory state (DeltaLogImpl/SnapshotImpl), bounded by the
        Snapshot's lifetime."""
        return self._plane("files", lambda: self.files_df)

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
