"""Structured Streaming demonstration queries: the SURVEY §2.9/§2.10
streaming operators (version-tailing source, stateful aggregation,
exactly-once sink, keyed custom state) surfaced through the driver's
DuckDB-oracle correctness gate — previously these surfaces were
pytest-covered only.

Every gate runs a REAL streaming query (readStream on the engine's
delta_stream source, Trigger.AvailableNow, a real checkpoint) whose
final output is SQL-predictable from the source parquet, so the hash
compare validates the streaming machinery (offset paging, state
merge/recovery, idempotent commit), not just the transformation:

- ``st_window_rollup``  — windowed stateful aggregation over the
  stream (complete mode: the deterministic final state equals the
  batch aggregate; reference scope is version-tailing only —
  ChangesProcessor.java:93-172 — the windowed agg is the Spark-native
  extension the reference delegates to the engine).
- ``st_dedup_restart``  — dropDuplicates state RECOVERY across query
  restarts: run 1 checkpoints the seen-keys state, a pure-duplicate
  commit lands while the query is down, run 2 must suppress all of it
  (state store round trip + DeltaStreamSink idempotence,
  DeltaGlobalCommitter.java:198-256 shape).
- ``st_sessionize_flush`` — applyInPandasWithState gap sessionization
  (streaming/stateful.py). Determinism without relying on timeout
  no-data batches: a far-future sentinel event per user CLOSES every
  real session through normal successor-event processing; sentinel
  sessions are filtered by timestamp. Output = exactly the batch
  lag-gap sessionization.
- ``st_sink_roundtrip`` — source → foreachBatch DeltaStreamSink
  (partitioned) → engine read-back: the full ST4→ST6→S7 loop under
  one gate.

AvailableNow is used everywhere so the gates terminate; Python
DataSourceStreamReader paging (maxFilesPerTrigger) only pages under
repeated triggers, so multi-BATCH behavior is pinned in
tests/test_streaming.py and multi-RUN behavior (the harder recovery
case) is pinned here by st_dedup_restart.
"""

from __future__ import annotations

import contextlib
import shutil
import tempfile
import uuid

from pyspark.sql import functions as F

from ..table import DeltaTable
from .delta_demo import _built
from .registry import load, register


def _stream(spark, path: str, drop_version: bool = True):
    from ..streaming import register_stream_source
    register_stream_source(spark)
    src = (spark.readStream.format("delta_stream")
           .option("path", path).option("startingVersion", "0").load())
    if drop_version:
        src = src.drop("_commit_version")
    # driver parquet carries TIMESTAMP_NTZ; event-time operators need
    # TIMESTAMP (session tz is UTC in the harness, so the cast is
    # wall-clock preserving and reversible)
    return src.withColumn("ts", F.col("ts").cast("timestamp"))


@contextlib.contextmanager
def _scratch():
    """A fresh directory for one gate's checkpoints and its own source
    and sink tables, removed when the gate finishes. A gate that reads
    back a table inside it returns a materialized result."""
    d = tempfile.mkdtemp(prefix="cs_st_")
    try:
        yield d
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _materialized(df):
    """``df``'s (small, aggregated) rows as a local relation, so the
    result outlives the scratch directory it was read from."""
    from ..localrel import local_rows_df
    return local_rows_df(df.sparkSession, df.collect(), df.schema)


def _events_table(spark, sf_dir: str) -> str:
    def build(d):
        DeltaTable.for_path(spark, d).write(
            load(spark, sf_dir, "events"), mode="append")
    return _built(sf_dir, "st_events", build)


@register("st_window_rollup", sql="""
SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
       count(*) AS n_events, round(sum(value), 2) AS sum_value
FROM events GROUP BY 1, 2
""")
def st_window_rollup(spark, sf_dir):
    # Streaming windowed aggregation (window() + groupBy over an
    # unbounded source): complete mode's final state is exactly the
    # batch aggregate — deterministic under ANY micro-batch split,
    # which is what makes it oracle-hashable.
    d = _events_table(spark, sf_dir)
    name = "st_wr_" + uuid.uuid4().hex[:8]
    agg = (_stream(spark, d)
           .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
           .agg(F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 2).alias("sum_value")))
    with _scratch() as ck:
        q = (agg.writeStream.format("memory").queryName(name)
             .outputMode("complete").option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination(300)
    return (spark.table(name)
            .select(F.col("w.start").cast("date").alias("day"),
                    "event_type", "n_events", "sum_value"))


@register("st_dedup_restart", sql="""
SELECT event_type, count(*) AS n_events, round(sum(value), 2) AS sum_value
FROM events GROUP BY event_type
""")
def st_dedup_restart(spark, sf_dir):
    # dropDuplicates keyed state must survive a query RESTART: run 1
    # consumes the real corpus and checkpoints its seen-keys state;
    # a commit of pure duplicates lands while the query is down; run 2
    # (same checkpoint, fresh process-side objects) must emit ZERO of
    # them. The sink's SetTransaction idempotence (ST6) is live too:
    # batch ids restart from the checkpoint, not from 0. Fresh source/
    # sink/checkpoint per invocation — the restart dance IS the query.
    ev = load(spark, sf_dir, "events")
    from ..streaming import DeltaStreamSink
    with _scratch() as d:
        src_path, sink_path, ck = (f"{d}/src", f"{d}/sink", f"{d}/ck")
        t = DeltaTable.for_path(spark, src_path)
        t.write(ev, mode="append")
        sink = DeltaStreamSink(sink_path, app_id="st_dedup_restart")

        def run():
            q = (_stream(spark, src_path)
                 .dropDuplicates(["event_id"])
                 .writeStream.foreachBatch(sink.foreach_batch)
                 .option("checkpointLocation", ck)
                 .trigger(availableNow=True).start())
            q.awaitTermination(300)

        run()
        t.write(ev.filter(F.col("event_id") % 2 == 0), mode="append")
        run()
        out = DeltaTable.for_path(spark, sink_path).to_df()
        return _materialized(
            out.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.sum("value"), 2).alias("sum_value")))


@register("st_sessionize_flush", sql="""
WITH g AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
              OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                 > 1800 * 1000000
         THEN 1 ELSE 0 END AS new_s
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
s AS (
  SELECT user_id, ts, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
           ROWS UNBOUNDED PRECEDING) AS sid
  FROM g)
SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
       count(*)::BIGINT AS n_events
FROM s GROUP BY user_id, sid
""")
def st_sessionize_flush(spark, sf_dir):
    # Custom keyed state (applyInPandasWithState): per-user gap
    # sessions. The per-user far-future sentinel event closes every
    # REAL session via ordinary successor-event processing, so the
    # output doesn't depend on whether a timeout no-data batch runs —
    # watermark timeouts stay pinned in tests/test_streaming.py.
    from ..streaming.stateful import sessionize_stream

    def build(d):
        ev = load(spark, sf_dir, "events")
        t = DeltaTable.for_path(spark, d)
        t.write(ev, mode="append")
        sent = (ev.select("user_id").distinct()
                .select((F.lit(10**9) + F.col("user_id"))
                        .alias("event_id"),
                        F.to_timestamp(F.lit("2030-01-01 00:00:00"))
                        .cast("timestamp_ntz").alias("ts"),
                        "user_id", F.lit("__flush__").alias("event_type"),
                        F.lit(0.0).alias("value"),
                        F.lit("{}").alias("props")))
        t.write(sent, mode="append")
    d = _built(sf_dir, "st_events_flush", build)
    name = "st_sf_" + uuid.uuid4().hex[:8]
    sess = sessionize_stream(
        _stream(spark, d).withWatermark("ts", "1 hour"),
        gap_seconds=1800)
    with _scratch() as ck:
        q = (sess.writeStream.format("memory").queryName(name)
             .outputMode("append").option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination(300)
    return (spark.table(name)
            .filter(F.col("session_start")
                    < F.to_timestamp(F.lit("2029-01-01")))
            .select("user_id",
                    F.col("session_start").cast("timestamp_ntz")
                    .alias("session_start"),
                    F.col("session_end").cast("timestamp_ntz")
                    .alias("session_end"),
                    "n_events"))


@register("st_cdf_changes", sql="""
WITH ins AS (
  SELECT 'insert' AS change_type, count(*) AS n,
         round(sum(value), 2) AS sum_value FROM events),
pre AS (
  SELECT 'update_preimage', count(*), round(sum(value), 2)
  FROM events WHERE event_type = 'error'),
post AS (
  SELECT 'update_postimage', count(*), round(sum(value + 100), 2)
  FROM events WHERE event_type = 'error'),
del AS (
  SELECT 'delete', count(*), round(sum(value), 2)
  FROM events WHERE event_type <> 'error' AND value < 20)
SELECT * FROM ins UNION ALL SELECT * FROM pre
UNION ALL SELECT * FROM post UNION ALL SELECT * FROM del
""")
def st_cdf_changes(spark, sf_dir):
    # Row-level change feed through the STREAMING source
    # (readChangeFeed=true, ST1): three commits — append, UPDATE
    # (physical AddCDCFile pre/postimages), row-level DELETE — stream
    # into a memory sink and aggregate per _change_type. The oracle
    # reconstructs each change set from the source parquet, so the
    # hash validates CDC file replay, synthesized inserts and version
    # attribution in one gate.
    from ..expressions import Col, Lit

    def build(d):
        t = DeltaTable.for_path(spark, d)
        t.write(load(spark, sf_dir, "events"), mode="append",
                configuration={"delta.enableChangeDataFeed": "true"})
        t.update({"value": "value + 100"},
                 Col("event_type") == Lit("error"))
        t.delete((Col("value") < Lit(20.0))
                 & ~(Col("event_type") == Lit("error")))
    d = _built(sf_dir, "st_events_cdf", build)
    from ..streaming import register_stream_source
    register_stream_source(spark)
    name = "st_cdf_" + uuid.uuid4().hex[:8]
    src = (spark.readStream.format("delta_stream")
           .option("path", d).option("readChangeFeed", "true")
           .option("startingVersion", "0").load())
    with _scratch() as ck:
        q = (src.writeStream.format("memory").queryName(name)
             .outputMode("append").option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination(300)
    return (spark.table(name)
            .groupBy(F.col("_change_type").alias("change_type"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum("value"), 2).alias("sum_value")))


# bench=True (r15, VERDICT r14 #8 — ADDITIONS only): the multimodal
# and streaming families carried the two previous rounds' largest
# wins invisibly to the driver's ground truth; one representative gate
# each joins the headline suite (mm_phash_clusters above it in
# pipeline.py).
@register("st_sink_roundtrip", sql="""
SELECT event_type, count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       round(sum(value), 2) AS sum_value
FROM events GROUP BY event_type
""", bench=True)
def st_sink_roundtrip(spark, sf_dir):
    # Full streaming loop: engine source (ST4) → foreachBatch
    # exactly-once Delta sink (ST6, partitioned write ST7) → engine
    # batch read-back (S7 partition reassembly). The aggregate runs on
    # the SINK table, so a wrong row anywhere in the loop breaks the
    # hash.
    from ..streaming import DeltaStreamSink
    d = _events_table(spark, sf_dir)
    with _scratch() as tmp:
        sink_path = f"{tmp}/sink"
        sink = DeltaStreamSink(sink_path, app_id="st_sink_roundtrip",
                               partition_by=["event_type"])
        q = (_stream(spark, d)
             .writeStream.foreachBatch(sink.foreach_batch)
             .option("checkpointLocation", f"{tmp}/ck")
             .trigger(availableNow=True).start())
        q.awaitTermination(300)
        out = DeltaTable.for_path(spark, sink_path).to_df()
        return _materialized(
            out.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.countDistinct("user_id").alias("n_users"),
                 F.round(F.sum("value"), 2).alias("sum_value")))
