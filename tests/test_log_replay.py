"""The log-replay kernel (connectors_spark/log/replay.py) behind every
Snapshot plane, the post-commit seed and the streaming source: parity
with the distributed window plan on every checkpoint shape, header
planes carried across commits, each tail file read once, and the
source's initial snapshot equal to the batch read."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from connectors_spark import DeltaTable
from connectors_spark.expressions import Col, Lit
from connectors_spark.log import filenames as fn
from connectors_spark.log.checkpoints import write_checkpoint
from connectors_spark.log.snapshot import Snapshot
from connectors_spark.streaming.source import register_stream_source
from connectors_spark.table import TableMaintenance


def _fkey(r):
    return (r["path"],
            tuple(sorted((r["partitionValues"] or {}).items())),
            r["size"], r["modificationTime"], r["dataChange"],
            r["stats"], tuple(sorted((r["tags"] or {}).items())),
            r["baseRowId"], r["defaultRowCommitVersion"], r["version"])


def _tkey(r):
    return (r["path"], r["deletionTimestamp"],
            tuple(sorted((r["tags"] or {}).items())),
            bool(r["extendedFileMetadata"]),
            tuple(sorted((r["partitionValues"] or {}).items())),
            r["size"], r["version"])


def _cold(spark, t) -> Snapshot:
    seg = t.log.snapshot().segment
    return Snapshot(spark, t.path, seg, t.log.store)


def _assert_planes_match_window_plan(snap, window_plan_builds):
    window_plan_builds.clear()
    files, tombs = snap._files_rows, snap._tombstone_rows
    assert not window_plan_builds              # the kernel served both
    assert files and tombs
    assert sorted(map(_fkey, files)) \
        == sorted(map(_fkey, snap.files_df.collect()))
    assert sorted(map(_tkey, tombs)) \
        == sorted(map(_tkey, snap._all_tombstones_df().collect()))


def _mk(spark, path, cfg=None):
    """Partitioned, row-tracked table: a DV delete, a whole-file
    delete, a txn watermark and a tail after version 3."""
    t = DeltaTable.for_path(spark, str(path))
    df = spark.range(0, 120).select(F.col("id"), (F.col("id") % 3)
                                    .alias("p"))
    t.write(df.repartition(4), partition_by=["p"],
            configuration=dict({"delta.enableRowTracking": "true",
                                "delta.checkpointInterval": "1000"},
                               **(cfg or {})))
    t.delete(Col("id") < Lit(10), deletion_vectors=True)          # v1
    t.write(spark.range(200, 230).select(F.col("id"), F.lit(1)
                                         .cast("long").alias("p")),
            mode="append", txn_app_id="app-r", txn_version=7)  # v2
    t.delete(Col("p") == Lit(2))                                  # v3
    return t


def _tail(spark, t):
    t.write(spark.range(300, 310).select(F.col("id"), F.lit(0)
                                         .cast("long").alias("p")),
            mode="append")
    t.delete(Col("id") == Lit(301))


def test_multi_part_checkpoint_planes_match_window_plan(
        spark, tmp_path, window_plan_builds):
    t = _mk(spark, tmp_path / "mp")
    write_checkpoint(t.log.snapshot(), parts=2)
    _tail(spark, t)
    snap = _cold(spark, t)
    assert len(snap.segment.checkpoint_files) == 2
    _assert_planes_match_window_plan(snap, window_plan_builds)
    assert snap.txn_version("app-r") == 7


def test_v2_checkpoint_planes_match_window_plan(spark, tmp_path,
                                                window_plan_builds):
    t = _mk(spark, tmp_path / "v2",
            {"delta.checkpointPolicy": "v2",
             "delta.protocol.autoUpgrade": "true"})
    write_checkpoint(t.log.snapshot())
    _tail(spark, t)
    snap = _cold(spark, t)
    assert fn.is_v2_checkpoint_file(snap.segment.checkpoint_files[0])
    _assert_planes_match_window_plan(snap, window_plan_builds)
    assert snap.txn_version("app-r") == 7


def test_compacted_tail_planes_match_window_plan(spark, tmp_path,
                                                 window_plan_builds):
    t = _mk(spark, tmp_path / "cmp")
    write_checkpoint(t.log.snapshot())
    _tail(spark, t)
    _tail(spark, t)
    TableMaintenance(t).compact_log()
    snap = _cold(spark, t)
    assert any(fn.is_compacted_file(d) for d in snap.segment.deltas)
    _assert_planes_match_window_plan(snap, window_plan_builds)


def test_cold_snapshot_reads_each_tail_file_once(spark, tmp_path,
                                                 monkeypatch):
    t = _mk(spark, tmp_path / "once")
    write_checkpoint(t.log.snapshot())
    _tail(spark, t)
    t.set_properties({"custom.tag": "x"})
    snap = _cold(spark, t)
    assert len(snap.segment.deltas) == 3
    reads = []
    orig = snap.store.read
    monkeypatch.setattr(snap.store, "read",
                        lambda p: reads.append(p) or orig(p))
    assert snap.metadata.configuration["custom.tag"] == "x"
    assert snap.txn_version("app-r") == 7
    assert "delta.rowTracking" in snap.domain_metadata
    assert snap._files_rows and snap._tombstone_rows
    assert sorted(reads) == sorted(snap.segment.deltas)


def test_concurrent_plane_loads_agree(spark, tmp_path):
    # two cached planes share one kernel: threads racing to fold the
    # checkpoint's add/remove columns in must all see the same planes
    import sys
    import threading
    t = _mk(spark, tmp_path / "race")
    write_checkpoint(t.log.snapshot())
    _tail(spark, t)
    want = _cold(spark, t)
    want = (sorted(map(_fkey, want._files_rows)),
            sorted(map(_tkey, want._tombstone_rows)))
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for _ in range(5):
            snap, got = _cold(spark, t), []

            def work(i):
                rows = snap._files_rows if i % 2 else snap._tombstone_rows
                got.append((i % 2, sorted(map(_fkey if i % 2 else _tkey,
                                              rows))))
            threads = [threading.Thread(target=work, args=(i,))
                       for i in range(8)]
            for th in threads:
                th.start()
            for th in threads:
                th.join(timeout=60)
            assert not any(th.is_alive() for th in threads)
            assert len(got) == 8
            assert all(rows == want[1 - odd] for odd, rows in got)
    finally:
        sys.setswitchinterval(old)


def test_seeded_header_planes_equal_cold(spark, tmp_path, monkeypatch):
    t = _mk(spark, tmp_path / "seed", {"delta.checkpointInterval": "4"})
    assert t.log.snapshot().txn_version("app-r") == 7       # warm kernel
    t.set_properties({"custom.tag": "y"})            # v4 -> checkpoint
    t.write(spark.range(400, 405).select(F.col("id"), F.lit(0)
                                         .cast("long").alias("p")),
            mode="append", txn_app_id="app-s", txn_version=2)   # v5
    import pyarrow.parquet as pq
    reads = []
    orig = pq.read_table
    monkeypatch.setattr(pq, "read_table",
                        lambda *a, **k: reads.append(a[0]) or orig(*a, **k))
    snap = t.log.snapshot()
    assert snap.segment.checkpoint_version == 4
    header = (snap.protocol, snap.metadata, snap.set_transactions,
              snap.domain_metadata)
    assert not reads                  # carried forward, nothing re-read
    cold = _cold(spark, t)
    assert header == (cold.protocol, cold.metadata,
                      cold.set_transactions, cold.domain_metadata)
    assert header[2] == {"app-r": 7, "app-s": 2}


# ---------------------------------------------------------------- source

def _stream_rows(spark, path, ck, name, **opts):
    register_stream_source(spark)
    r = spark.readStream.format("delta_stream").option("path", str(path))
    for k, v in opts.items():
        r = r.option(k, v)
    q = (r.load().writeStream.format("memory").queryName(name)
         .option("checkpointLocation", str(ck))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    return spark.sql(f"select * from {name}").collect()


def test_stream_snapshot_row_ids_survive_checkpoint(spark, tmp_path):
    # checkpointed adds keep baseRowId/defaultRowCommitVersion, so the
    # stream's row ids equal the batch reader's
    src = tmp_path / "src"
    t = DeltaTable.for_path(spark, str(src))
    t.write(spark.range(0, 40).select(
        F.col("id"), (F.col("id") * 10).alias("val")).repartition(4),
        configuration={"delta.enableRowTracking": "true"})
    t.write(spark.range(40, 60).select(
        F.col("id"), (F.col("id") * 10).alias("val")), mode="append")
    write_checkpoint(t.log.snapshot())
    t.write(spark.range(60, 70).select(
        F.col("id"), (F.col("id") * 10).alias("val")), mode="append")
    rows = _stream_rows(spark, src, tmp_path / "ck", "rid_ckpt",
                        withRowIds="true")
    stream = {r["id"]: (r["_row_id"], r["_row_commit_version"])
              for r in rows}
    batch = {r["id"]: (r["_row_id"], r["_row_commit_version"])
             for r in t.to_df(with_row_ids=True).collect()}
    assert len(stream) == 70
    assert stream == batch


@pytest.mark.parametrize("value", ["a~b", "a%b c"])
def test_stream_snapshot_after_checkpoint_and_delete(spark, tmp_path,
                                                     value):
    # the checkpoint and the commit spell the same path differently
    # (%7E vs ~); the source keys files by canonical path, so the
    # deleted partition's file is gone from its initial snapshot
    src = tmp_path / "src"
    t = DeltaTable.for_path(spark, str(src))
    t.write(spark.createDataFrame([(1, value), (2, "c"), (3, value)],
                                  "id long, p string"),
            partition_by=["p"])
    write_checkpoint(t.log.snapshot())
    t.delete(Col("p") == Lit(value))
    rows = _stream_rows(spark, src, tmp_path / "ck",
                        f"snap_del_{abs(hash(value))}")
    stream = sorted((r["id"], r["p"]) for r in rows)
    assert stream == sorted((r["id"], r["p"])
                            for r in t.to_df().collect())
    assert stream == [(2, "c")]
