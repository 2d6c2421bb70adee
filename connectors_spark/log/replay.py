"""Log replay: one checkpoint plus the commits after it, folded into the
table's state planes (the reference's ``InMemoryLogReplay``,
InMemoryLogReplay.scala:51-92; Delta Lake, VLDB 2020, §3).

The kernel keeps five planes:

- protocol and metadata: the latest action wins;
- set transactions: the latest version per ``appId``;
- domain metadata: the latest action per domain (``removed`` hides it);
- active files: keyed by canonical path, ``_FILES_SCHEMA`` rows;
- tombstones: the latest remove of every path not re-added since,
  ``_TOMBSTONE_SCHEMA`` rows.

Commits fold forward through :meth:`LogReplay.append`. The checkpoint
is folded *under* them, one column group at a time
(:meth:`LogReplay.load`): a checkpoint entry only fills a key that no
folded commit touched. Every folded commit is newer than the
checkpoint, so the result equals a forward replay of checkpoint then
commits; a Snapshot reads the checkpoint's header columns without its
``add``/``remove`` columns, and reads each group at most once.

Spark-free (no session, no JVM): the streaming source plans its
initial snapshot from this module inside a Python worker.
"""

from __future__ import annotations

import copy
import os
import urllib.parse
from typing import Dict, List, Optional, Sequence, Tuple

from pyspark.sql import types as T

from . import filenames as fn
from .actions import (ADD_SCHEMA, AddFile, DomainMetadata, Metadata,
                      Protocol, RemoveFile, SetTransaction, _parse_one,
                      from_json_line)
from .logstore import LogStore

# Checkpoint column groups, and the planes each one fills.
HEADER = ("protocol", "metaData", "txn", "domainMetadata")
FILES = ("add", "remove")
_PLANES = {HEADER: ("header",), FILES: ("files", "tombstones")}

# Past this many checkpoint bytes (parts plus sidecars) the file planes
# are replayed by the distributed window plan instead of on the driver.
DRIVER_REPLAY_MAX_BYTES = 64 * 1024 * 1024

# Row shapes of the two file planes — each field for field the output
# of its distributed window plan (Snapshot.files_df: the add struct's
# fields plus the adding version; Snapshot._all_tombstones_df), so the
# planes re-enter Spark as local relations without building that plan.
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

_FILE_ROW = T.Row(*_FILES_SCHEMA.names)
_TOMBSTONE_ROW = T.Row(*_TOMBSTONE_SCHEMA.names)
_MAP_FIELDS = ("partitionValues", "tags")


def canonical_path(p: str, table_path: str) -> str:
    """Absolute posix path for a log ``path`` entry (URI-decoded; relative
    paths resolve against the table root). Mirrors
    SnapshotImpl.canonicalizePath (SnapshotImpl.scala:349-362).

    Idempotent on its own output: a bare ``/``-absolute input is already
    canonical (physical) and is returned as-is. Spark's Hive dir
    escaping puts literal ``%XX`` bytes into directory names (partition
    values containing ``=``, ``/``, ``%``…), so decoding a physical path
    a second time corrupts it. The writer never emits bare-absolute
    paths into the log (relativize produces relative or
    ``file://``-quoted), so log-domain inputs are unaffected."""
    if p.startswith("/"):
        return p
    d = urllib.parse.unquote(p)
    if "://" in d:
        rest = d.split("://", 1)[1]
        slash = rest.find("/")
        return rest[slash:] if slash >= 0 else "/"
    if d.startswith("file:"):
        return d[len("file:"):]
    if d.startswith("/"):
        return d
    return table_path.rstrip("/") + "/" + d


def _state_row(factory, d: dict, path: str, version: int):
    """A plane row from an action's fields (a parsed action's ``vars`` or
    a checkpoint struct), maps as plain dicts, stamped with ``version``."""
    vals = []
    for name in factory:
        v = d.get(name)
        if name == "path":
            v = path
        elif name == "version":
            v = int(version)
        elif name in _MAP_FIELDS and v is not None:
            v = dict(v)
        vals.append(v)
    return factory(*vals)


def read_tail(store, segment) -> List[Tuple[int, list]]:
    """``(version, actions)`` for each post-checkpoint log file of
    ``segment``, each file read and parsed once. A compacted range
    carries net actions (at most one per key), so it folds as one
    commit stamped with its range-end version, as the window plan
    stamps it."""
    out = []
    for path in segment.deltas:
        name = os.path.basename(path)
        v = (fn.compacted_range(name)[1] if fn.is_compacted_file(name)
             else fn.delta_version(name))
        out.append((v, [a for a in map(from_json_line, store.read(path))
                        if a is not None]))
    return out


def v2_sidecar_paths(manifest: str, log_path: str) -> List[str]:
    """Absolute paths of a v2 manifest's sidecar parquets (a column-
    pruned read: the manifest is O(sidecars) rows)."""
    import pyarrow.parquet as pq
    if "sidecar" not in pq.read_schema(manifest).names:
        return []
    return [fn.sidecar_file(log_path, row["sidecar"]["path"])
            for row in pq.read_table(manifest,
                                     columns=["sidecar"]).to_pylist()
            if row["sidecar"] and row["sidecar"].get("path")]


def checkpoint_parts(segment, group: Sequence[str] = FILES) -> List[str]:
    """The checkpoint parquets that hold ``group``'s columns: every part
    of a classic checkpoint; a v2 manifest, plus its sidecars for the
    file group (the add/remove state lives there)."""
    parts = list(segment.checkpoint_files)
    if group == FILES and len(parts) == 1 \
            and fn.is_v2_checkpoint_file(parts[0]):
        parts += v2_sidecar_paths(parts[0], segment.log_path)
    return parts


def replays_on_driver(store, segment) -> bool:
    """The one driver-side vs distributed rule for the file planes:
    replay on the driver when the store is the POSIX ``LogStore`` and
    the checkpoint (parts plus sidecars) is at most
    ``DRIVER_REPLAY_MAX_BYTES``. Past that the state is fleet-sized and
    the window plan replays it on executors."""
    if type(store) is not LogStore:
        return False
    try:
        size = sum(os.path.getsize(p) for p in checkpoint_parts(segment))
    except OSError:
        return False
    return size <= DRIVER_REPLAY_MAX_BYTES


class LogReplay:
    """State planes of one table version; see the module docstring.

    ``loaded`` names the planes whose checkpoint part is in: "header"
    (protocol, metadata, set transactions, domains), "files" and
    "tombstones". A plane outside it holds only the folded commits."""

    def __init__(self, table_path: str):
        self.table_path = table_path
        self.protocol: Optional[Protocol] = None
        self.metadata: Optional[Metadata] = None
        self.txns: Dict[str, int] = {}
        self.domains: Dict[str, Optional[str]] = {}
        self.files: Dict[str, object] = {}
        self.tombstones: Dict[str, object] = {}
        self.loaded: set = set()

    def copy(self) -> "LogReplay":
        new = copy.copy(self)
        for k in ("txns", "domains", "files", "tombstones", "loaded"):
            setattr(new, k, copy.copy(getattr(self, k)))
        return new

    def append(self, version: int, actions) -> None:
        """Fold one commit. Within a version an add beats a remove of the
        same path (the window plan's ``is_add`` tiebreak)."""
        adds, removes = {}, {}
        for a in actions:
            if isinstance(a, AddFile):
                adds[canonical_path(a.path, self.table_path)] = a
            elif isinstance(a, RemoveFile):
                removes[canonical_path(a.path, self.table_path)] = a
            elif isinstance(a, Protocol):
                self.protocol = a
            elif isinstance(a, Metadata):
                self.metadata = a
            elif isinstance(a, SetTransaction):
                self.txns[a.appId] = a.version
            elif isinstance(a, DomainMetadata):
                self.domains[a.domain] = (None if a.removed
                                          else a.configuration)
        for p, a in removes.items():
            if p not in adds:
                self.files.pop(p, None)
                self.tombstones[p] = _state_row(_TOMBSTONE_ROW, vars(a),
                                                p, version)
        for p, a in adds.items():
            self.tombstones.pop(p, None)
            self.files[p] = _state_row(_FILE_ROW, vars(a), p, version)

    def load(self, segment, group: Sequence[str]) -> None:
        """Fold ``group``'s columns of ``segment``'s checkpoint under the
        folded commits, for the planes not loaded yet. The checkpoint
        must be no older than the one the commits were folded on; a
        checkpoint entry fills only keys those commits left untouched
        (a touched path is in ``files`` or in ``tombstones``)."""
        want = [p for p in _PLANES[group] if p not in self.loaded]
        if not want:
            return
        import pyarrow.parquet as pq
        version = segment.checkpoint_version
        for part in checkpoint_parts(segment, group):
            cols = [c for c in group if c in pq.read_schema(part).names]
            if not cols:
                continue
            for row in pq.read_table(part, columns=cols).to_pylist():
                for col in cols:
                    if row[col] is not None:
                        self._underlay(col, row[col], version, want)
        self.loaded.update(want)

    def _underlay(self, col: str, d: dict, version: int, planes) -> None:
        if col in ("add", "remove"):
            if d.get("path") is None:
                return
            p = canonical_path(d["path"], self.table_path)
            if p in self.files or p in self.tombstones:
                return
            if col == "add" and "files" in planes:
                self.files[p] = _state_row(_FILE_ROW, d, p, version)
            elif col == "remove" and "tombstones" in planes:
                self.tombstones[p] = _state_row(_TOMBSTONE_ROW, d, p,
                                                version)
        elif col == "protocol":
            if self.protocol is None \
                    and d.get("minReaderVersion") is not None:
                self.protocol = _parse_one(col, d)
        elif col == "metaData":
            if self.metadata is None and d.get("id"):
                fmt = d.get("format") or {}
                self.metadata = _parse_one(col, dict(
                    d, configuration=dict(d.get("configuration") or {}),
                    format=dict(fmt, options=dict(fmt.get("options")
                                                  or {}))))
        elif col == "txn":
            if d.get("appId") and d["appId"] not in self.txns:
                self.txns[d["appId"]] = d["version"]
        elif d.get("domain") and d["domain"] not in self.domains:
            self.domains[d["domain"]] = (None if d.get("removed")
                                         else d.get("configuration") or "")

    def adopt(self, plane: str, rows) -> None:
        """Install a whole plane computed elsewhere (the window plan's
        rows for a checkpoint too big for the driver)."""
        setattr(self, plane, {r["path"]: r for r in rows})
        self.loaded.add(plane)
