"""Checkpoint writing (reference: Checkpoints.writeCheckpoint,
``Checkpoints.scala:221-312``; multi-part naming FileNames.scala:61-64).

A checkpoint is the full snapshot state as SingleAction-shaped Parquet:
all active AddFiles (paths re-relativized), retained RemoveFile tombstones,
latest Protocol + Metadata, the last SetTransaction per appId and the
active metadata domains. The header rows come from the Snapshot's
log-replay kernel. When the Snapshot already holds its file planes
(``_files_rows``/``_tombstone_rows``) and they are small, one pyarrow
write on the driver produces a single-part checkpoint; otherwise a Spark
job writes the planes' rows, or for a cold Snapshot the distributed
window plan (``snapshot.files_df``), and the output can be split into N
parts (or v2 sidecars) for tables whose state no longer fits one file --
readers glob the parts back together (segment._complete_checkpoints).

Spark can't name its output files, so parts are written to a temp dir and
renamed into the checkpoint name(s) -- the same temp-file+rename dance the
reference does for stores with visible partial writes
(Checkpoints.scala:267-288).
"""

from __future__ import annotations

import math
import os
import urllib.parse
import uuid
from typing import Optional

from pyspark.sql import functions as F

from . import filenames as fn
from .actions import (SINGLE_ACTION_SCHEMA, CheckpointMetadata, Metadata,
                      Protocol, SetTransaction, SidecarFile, to_json_line)
from .segment import write_last_checkpoint
from .snapshot import Snapshot

# Target actions per checkpoint part; ~500k AddFile rows keeps a part well
# under typical 128MB row-group targets.
ACTIONS_PER_PART = 500_000


def _encode_seg(s):
    # url_encode encodes ' ' as '+': fix to %20 for URI-style paths.
    return F.replace(F.call_function("url_encode", s),
                     F.lit("+"), F.lit("%20"))


def _relativize_col(table_path: str):
    """Canonical absolute path -> log-relative, URI-encoded per segment."""
    root = table_path.rstrip("/") + "/"
    p = F.col("path")
    rel = F.when(p.startswith(root),
                 F.expr(f"substring(path, {len(root) + 1})")).otherwise(p)
    return F.array_join(F.transform(F.split(rel, "/"), _encode_seg), "/")


def _json_lines_df(spark, lines):
    """A handful of action JSON lines as SINGLE_ACTION_SCHEMA rows.
    ``from_json`` over a literal array stays JVM-side; the previous
    ``read.json(parallelize(lines))`` shipped the lines through a
    Python-backed RDD — a Python-worker round trip per checkpoint
    write for 2-5 driver-built rows (r14, guide §4.1)."""
    return (spark.range(1)
            .select(F.explode(F.lit(lines)).alias("__j"))
            .select(F.from_json("__j", SINGLE_ACTION_SCHEMA).alias("__a"))
            .select("__a.*"))


# Driver-side checkpoint writes are bounded: past this many actions the
# state is fleet-sized and the distributed write (with multi-part
# splitting) is the right machinery.
DRIVER_WRITE_MAX_ACTIONS = 50_000


def _encode_seg_py(seg: str) -> str:
    """Python twin of ``_encode_seg`` (Spark ``url_encode`` with the
    '+'→%20 fix). URLEncoder keeps ``*`` raw and encodes ``~``; quote()
    does the opposite — align both deltas so driver- and Spark-written
    checkpoints encode identically."""
    return urllib.parse.quote(seg, safe="*").replace("~", "%7E")


def _relativize_py(path: str, table_path: str) -> str:
    root = table_path.rstrip("/") + "/"
    rel = path[len(root):] if path.startswith(root) else path
    return "/".join(_encode_seg_py(s) for s in rel.split("/"))


def _driver_state_rows(snapshot: Snapshot, pm_lines) -> list:
    """SINGLE_ACTION_SCHEMA rows (python dicts) for a driver-side
    checkpoint write — field-for-field what the distributed plan
    produces: adds from the materialized inventory, retained tombstones
    (each remove's own extendedFileMetadata gating partitionValues/
    size), and the P&M/txn/domain lines."""
    import json
    import time as _time
    tp = snapshot.table_path
    rows = []
    for r in snapshot._files_rows:
        rows.append({"add": {
            "path": _relativize_py(r["path"], tp),
            "partitionValues": dict(r["partitionValues"])
            if r["partitionValues"] is not None else None,
            "size": r["size"],
            "modificationTime": r["modificationTime"],
            "dataChange": bool(r["dataChange"])
            if r["dataChange"] is not None else False,
            "stats": r["stats"],
            "tags": dict(r["tags"]) if r["tags"] is not None else None,
            "baseRowId": r["baseRowId"],
            "defaultRowCommitVersion": r["defaultRowCommitVersion"],
        }})
    min_ts = snapshot._min_file_retention_ts
    if min_ts is None:
        min_ts = int(_time.time() * 1000) - 7 * 24 * 3600 * 1000
    for r in snapshot._tombstone_rows:
        if (r["deletionTimestamp"] or 0) <= min_ts:
            continue
        ext = bool(r["extendedFileMetadata"]) \
            if r["extendedFileMetadata"] is not None else False
        rows.append({"remove": {
            "path": _relativize_py(r["path"], tp),
            "deletionTimestamp": r["deletionTimestamp"],
            "dataChange": False,
            "extendedFileMetadata": ext,
            "partitionValues": (dict(r["partitionValues"])
                                if r["partitionValues"] is not None
                                else None) if ext else None,
            "size": r["size"] if ext else None,
            "tags": dict(r["tags"]) if r["tags"] is not None else None,
            "baseRowId": None,
            "defaultRowCommitVersion": None,
        }})
    rows += [json.loads(ln) for ln in pm_lines]
    return rows


def _write_checkpoint_driver(snapshot: Snapshot,
                             pm_lines) -> Optional[int]:
    """Single-part classic checkpoint written driver-side via pyarrow.
    Returns n_actions, or None when ineligible. Caller guarantees the
    inventory is materialized and the policy is classic single-part."""
    from .logstore import LogStore
    store = snapshot.store
    if type(store) is not LogStore:     # POSIX only: pyarrow writes a
        return None                     # local tmp the store renames
    _ = snapshot._tombstone_rows        # collect once; seeded forward
    n_files = len(snapshot._files_rows)
    if n_files + len(snapshot._tombstone_rows) > DRIVER_WRITE_MAX_ACTIONS:
        return None
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema
    log_path = snapshot.segment.log_path
    rows = _driver_state_rows(snapshot, pm_lines)
    tbl = pa.Table.from_pylist(rows,
                               schema=to_arrow_schema(SINGLE_ACTION_SCHEMA))
    tmp = os.path.join(log_path, f".tmp_ckpt_{uuid.uuid4().hex}.parquet")
    # Any failure between creating tmp and the rename must delete it
    # (ADVICE r14): the caller's best-effort wrapper falls back to the
    # distributed write, so a partially-written .tmp_ckpt_* would
    # otherwise accumulate silently in _delta_log across failures.
    try:
        pq.write_table(tbl, tmp, compression="snappy")
        store.rename(tmp, fn.checkpoint_file_single(log_path,
                                                    snapshot.version))
    except Exception:
        try:
            store.delete(tmp)
        except FileNotFoundError:
            pass
        raise
    n_actions = n_files + 2
    write_last_checkpoint(snapshot.store, log_path, snapshot.version,
                          n_actions, None)
    return n_actions


def write_checkpoint(snapshot: Snapshot, parts: Optional[int] = None) -> int:
    """Write the checkpoint for ``snapshot`` + update ``_last_checkpoint``.
    Returns the number of actions checkpointed."""
    spark = snapshot.spark
    log_path = snapshot.segment.log_path
    table_path = snapshot.table_path

    # P&M + txns: a handful of rows, created on the driver.
    pm_lines = [to_json_line(snapshot.protocol).strip(),
                to_json_line(snapshot.metadata).strip()]
    pm_lines += [to_json_line(SetTransaction(app, v))
                 for app, v in sorted(snapshot.set_transactions.items())]
    from .actions import DomainMetadata
    pm_lines += [to_json_line(DomainMetadata(d, c))
                 for d, c in sorted(snapshot.domain_metadata.items())]

    from ..config import TableConfig
    is_v2 = TableConfig(snapshot.metadata.configuration) \
        .checkpoint_policy == "v2"

    # Small-state fast path (r14): when the snapshot already holds its
    # state driver-side, write the single-part checkpoint parquet with
    # pyarrow directly — the reference Standalone writes checkpoints
    # exactly this single-process way (Checkpoints.scala ParquetWriter),
    # and a Spark write job over a few thousand driver-held rows costs
    # more than writing them (measured: ~3-5 s of job/plan machinery per
    # 10-commit boundary at bench scale vs ~0.1 s direct). Ineligible
    # cases (big state, explicit multi-part, v2 policy, non-POSIX store,
    # cold snapshot) — and any unexpected failure — take the
    # distributed path below unchanged.
    if (parts is None and not is_v2
            and "_files_rows" in snapshot.__dict__):
        try:
            n = _write_checkpoint_driver(snapshot, pm_lines)
        except Exception:  # noqa: BLE001 — fast path is best-effort
            n = None
        if n is not None:
            return n

    # Reuse the Snapshot's materialized inventory when a prior consumer
    # (any DML path, or the incremental post-commit seed) already paid
    # for it: the distributed replay would otherwise run TWICE here —
    # once for count(), once under the state write (measured r14: a
    # warm post-MERGE checkpoint write cost 6.3 s, almost all of it
    # re-replaying state the snapshot already held; guide §1.2). Cold
    # snapshots (nothing materialized) keep the fully distributed
    # plan — the 100 TB first-build path is unchanged.
    if "_files_rows" in snapshot.__dict__:
        files = snapshot.files_local_df
        n_files = len(snapshot._files_rows)
        # Materialize the tombstone plane too: collecting it here costs
        # the same one window job tombstones_df would run below, and
        # the post-commit seed then carries the rows forward so the
        # NEXT checkpoint write (and any vacuum) skips the replay.
        _ = snapshot._tombstone_rows
    else:
        files = snapshot.files_df
        n_files = files.count()

    add_struct = F.struct(
        _relativize_col(table_path).alias("path"),
        F.col("partitionValues"),
        F.col("size"),
        F.col("modificationTime"),
        F.coalesce(F.col("dataChange"), F.lit(False)).alias("dataChange"),
        F.col("stats"),
        F.col("tags"),
        F.col("baseRowId"),
        F.col("defaultRowCommitVersion"),
    )
    adds_df = files.select(add_struct.alias("add"))
    for f in SINGLE_ACTION_SCHEMA.fields:
        if f.name != "add":
            adds_df = adds_df.withColumn(f.name, F.lit(None).cast(f.dataType))
    adds_df = adds_df.select(*[f.name for f in SINGLE_ACTION_SCHEMA.fields])

    # Tombstones still inside the retention window ride along so readers of
    # the checkpoint alone see them (InMemoryLogReplay.getTombstones).
    tomb = snapshot.tombstones_df
    # extendedFileMetadata carries each tombstone's OWN flag (ADVICE
    # r13): the protocol says partitionValues/size/tags are only valid
    # when it is true, so writing a blanket false made conforming
    # readers drop the tags — losing the DV-sidecar reference the
    # VACUUM tombstone protection depends on after a checkpoint.
    # Engine-written removes (AddFile.remove) always set it true;
    # foreign-writer tombstones keep whatever they declared.
    ext = F.coalesce(F.col("extendedFileMetadata"), F.lit(False))
    remove_struct = F.struct(
        _relativize_col(table_path).alias("path"),
        F.col("deletionTimestamp"),
        F.lit(False).alias("dataChange"),
        ext.alias("extendedFileMetadata"),
        F.when(ext, F.col("partitionValues")).alias("partitionValues"),
        F.when(ext, F.col("size")).alias("size"),
        F.col("tags"),
        F.lit(None).cast("long").alias("baseRowId"),
        F.lit(None).cast("long").alias("defaultRowCommitVersion"),
    )
    tomb_df = tomb.select(remove_struct.alias("remove"))
    for f in SINGLE_ACTION_SCHEMA.fields:
        if f.name != "remove":
            tomb_df = tomb_df.withColumn(f.name, F.lit(None).cast(f.dataType))
    tomb_df = tomb_df.select(*[f.name for f in SINGLE_ACTION_SCHEMA.fields])

    pm_df = _json_lines_df(spark, pm_lines)

    if is_v2:
        return _write_checkpoint_v2(snapshot, adds_df, tomb_df,
                                    pm_lines, n_files, parts)

    state = adds_df.unionByName(tomb_df).unionByName(pm_df)
    n_actions = n_files + 2  # approximation for _last_checkpoint "size"

    if parts is None:
        parts = max(1, math.ceil(n_files / ACTIONS_PER_PART))
    state = state.repartition(parts)

    # Publication goes through the snapshot's LogStore (never raw os
    # calls): the POSIX store renames; an object-store store implements
    # rename as its own copy/put. Same temp+publish dance as
    # Checkpoints.scala:267-288.
    store = snapshot.store
    tmp = os.path.join(log_path, f".tmp_ckpt_{uuid.uuid4().hex}")
    state.write.mode("overwrite").option("compression", "snappy").parquet(tmp)
    try:
        part_files = sorted(f for f in store.list_dir(tmp)
                            if f.endswith(".parquet"))
        if len(part_files) == 1:
            store.rename(os.path.join(tmp, part_files[0]),
                         fn.checkpoint_file_single(log_path, snapshot.version))
            written_parts = None
        else:
            names = fn.checkpoint_file_parts(log_path, snapshot.version,
                                             len(part_files))
            for src, dst in zip(part_files, names):
                store.rename(os.path.join(tmp, src), dst)
            written_parts = len(part_files)
    finally:
        store.remove_tree(tmp)

    write_last_checkpoint(snapshot.store, log_path, snapshot.version,
                          n_actions, written_parts)
    return n_actions


def _write_checkpoint_v2(snapshot: Snapshot, adds_df, tomb_df,
                         pm_lines, n_files: int,
                         parts: Optional[int]) -> int:
    """V2 (uuid-named) checkpoint — Delta protocol 'V2 Checkpoint
    Table Feature': the add/remove state lands in SIDECAR parquets
    under ``_delta_log/_sidecars/``; the manifest
    ``<version>.checkpoint.<uuid>.parquet`` carries protocol/metadata/
    txn/domainMetadata rows plus one SidecarFile reference per sidecar
    and a CheckpointMetadata self-description. Scale shape: the
    manifest stays O(sidecars + domains) rows no matter how many files
    the table has, so the driver-side P&M replay reads a TINY parquet
    while the file state streams distributed through the sidecars —
    and a recompute can rewrite one sidecar-sized slice at a time.
    Publication is the same temp-dir + LogStore-rename dance as
    classic; racing writers produce distinct uuids, and the segment
    picker treats any complete manifest as authoritative."""
    spark = snapshot.spark
    store = snapshot.store
    log_path = snapshot.segment.log_path
    uid = uuid.uuid4().hex

    state = adds_df.unionByName(tomb_df)
    if parts is None:
        parts = max(1, math.ceil(n_files / ACTIONS_PER_PART))
    state = state.repartition(parts)
    tmp = os.path.join(log_path, f".tmp_ckpt_{uid}")
    state.write.mode("overwrite").option("compression",
                                         "snappy").parquet(tmp)
    sidecars = []
    try:
        part_files = sorted(f for f in store.list_dir(tmp)
                            if f.endswith(".parquet"))
        for i, src in enumerate(part_files):
            name = f"{uid}-{i:05d}.parquet"
            dst = fn.sidecar_file(log_path, name)
            store.rename(os.path.join(tmp, src), dst)
            size, mtime = store.stat(dst)
            sidecars.append(SidecarFile(name, size, mtime))
    finally:
        store.remove_tree(tmp)

    manifest_lines = list(pm_lines)
    manifest_lines.append(to_json_line(
        CheckpointMetadata(snapshot.version)))
    manifest_lines += [to_json_line(s) for s in sidecars]
    mdf = _json_lines_df(spark, manifest_lines).coalesce(1)
    tmp2 = os.path.join(log_path, f".tmp_ckpt_m_{uid}")
    mdf.write.mode("overwrite").parquet(tmp2)
    try:
        mfile = next(f for f in sorted(store.list_dir(tmp2))
                     if f.endswith(".parquet"))
        store.rename(os.path.join(tmp2, mfile),
                     fn.checkpoint_file_v2(log_path, snapshot.version,
                                           uid))
    finally:
        store.remove_tree(tmp2)

    n_actions = n_files + 2
    write_last_checkpoint(store, log_path, snapshot.version, n_actions)
    return n_actions
