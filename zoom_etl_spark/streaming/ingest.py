"""Streaming ingest: the Spark-native form of the reference's webhook
Lambda (reference lambda/zoom_webhook/handler.py:38-111; SURVEY.md §3.2).

Event-at-a-time Lambda invocations become a micro-batched stream:
  readStream → validate filter → windowed agg (with watermark for late
  data) → sink. The idempotent-upsert contract (webhook redelivery safe,
  ST4) maps to foreachBatch + in-batch last-wins dedup + keyed merge.

Tests drive this with `trigger(availableNow=True)` over the events
parquet; in production the source is Kafka/files and nothing changes but
the `readStream.format(...)` line.
"""

from __future__ import annotations

import os
import re
import shutil
import tempfile
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import (DoubleType, LongType, StringType, StructField,
                               StructType, TimestampType)

# Legacy nanos layout: events.ts is TIMESTAMP(NANOS) in the parquet →
# declare long (with the nanosAsLong conf) and convert after read, like
# the batch catalog. Test fixtures that synthesize multi-file stream
# sources write this shape.
EVENTS_SCHEMA = StructType([
    StructField("event_id", LongType(), True),
    StructField("ts", LongType(), True),
    StructField("user_id", LongType(), True),
    StructField("event_type", StringType(), True),
    StructField("value", DoubleType(), True),
    StructField("props", StringType(), True),
])


def _events_stream_schema(sf_dir: str) -> StructType:
    """readStream needs a declared schema; derive the ts field from the
    parquet footer (driver-side, one metadata read) so both the legacy
    nanos-long layout and native micros layouts stream correctly."""
    import glob
    import os

    import pyarrow.parquet as pq
    from pyspark.sql.types import TimestampNTZType, TimestampType
    path = os.path.join(sf_dir, "events.parquet")
    if os.path.isdir(path):  # directory-style table (Spark writer output)
        path = sorted(glob.glob(os.path.join(path, "*.parquet")))[0]
    t = pq.read_schema(path).field("ts").type
    if str(t) in ("timestamp[ns]", "int64"):
        # TIMESTAMP(NANOS) reads as long under nanosAsLong; int64 is the
        # already-long layout (scale-smoke replicas, legacy fixtures)
        ts_field = StructField("ts", LongType(), True)
    elif t.tz is None:
        ts_field = StructField("ts", TimestampNTZType(), True)
    else:
        ts_field = StructField("ts", TimestampType(), True)
    return StructType([ts_field if f.name == "ts" else f
                       for f in EVENTS_SCHEMA.fields])


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream the events table file-by-file (stand-in for a Kafka topic).

    Single-file layouts (driver testdata: ``<sf_dir>/events.parquet`` is
    a file among sibling tables) need the glob filter so only the events
    file streams; directory-style tables (Spark writer output) are read
    directly — a glob on the table name would match NO part files and
    silently stream nothing."""
    import os

    from ..catalog import normalize_event_ts
    schema = _events_stream_schema(sf_dir)
    path = os.path.join(sf_dir, "events.parquet")
    if os.path.isdir(path):
        raw = spark.readStream.schema(schema).parquet(path)
    else:
        raw = (spark.readStream.schema(schema)
               .option("pathGlobFilter", "events.parquet")
               .parquet(sf_dir))
    return normalize_event_ts(raw)


def windowed_counts(stream: DataFrame, watermark: str = "1 hour",
                    window: str = "1 day") -> DataFrame:
    """Validate → watermark → tumbling-window aggregate (handler validation
    + ST2/ST5). Late rows beyond the watermark are dropped — the
    streaming analog of the reference's since-timestamp gate."""
    valid = stream.filter(F.col("event_id").isNotNull() & F.col("ts").isNotNull()
                          & F.col("user_id").isNotNull())
    return (valid.withWatermark("ts", watermark)
            .groupBy(F.window("ts", window).alias("w"))
            .agg(F.count("*").alias("cnt"),
                 F.round(F.sum("value"), 3).alias("total"))
            .select(F.col("w.start").alias("day"), "cnt", "total"))


@contextmanager
def state_partitions(spark: SparkSession, n: int):
    """Scope ``spark.sql.shuffle.partitions`` for a streaming query about
    to start. The setting fixes the number of STATE STORE instances (one
    per shuffle partition, pinned at the first micro-batch and persisted
    in the checkpoint) — a per-workload sizing decision, not cluster
    width: it must cover the keyspace/throughput of the stateful
    operator, and every instance carries fixed maintenance cost
    (snapshots, file handles) even when near-empty. A 100 TB deployment
    sizes ``n`` to its expected peak parallelism BEFORE first start (it
    cannot change across restarts without a new checkpoint).

    NOT concurrency-safe: ``spark.sql.shuffle.partitions`` is session-
    global, so anything else planned on this session while the context is
    open inherits ``n``. Use single-query-at-a-time; the bounded replays
    get it scoped by :func:`run_available_now`."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


# Measured plateaus for bounded availableNow replays (round-9 16/8/4
# probe matrix, re-checked round 10): below/above these the replay only
# gets slower. They are REPLAY sizing knobs, not cluster constants — a
# production stream sizes its state-store instance count to expected
# peak stateful parallelism BEFORE first start (see state_partitions).
_REPLAY_JVM_STATE_FLOOR = 8      # JVM state, or no state at all
_REPLAY_PYTHON_STATE_CAP = 16    # Python state operators

# Python state operators as the analyzed plan names them:
# applyInPandasWithState and transformWithStateInPandas (Spark 4.0
# TransformWithStateInPandas, TransformWithStateInPySpark since 4.1).
_PYTHON_STATE_NODE = re.compile(
    r"FlatMapGroupsInPandasWithState|TransformWithStateInP(?:andas|ySpark)")


def replay_state_partitions(result: DataFrame) -> int:
    """State-store instance count for a BOUNDED availableNow replay of
    the streaming frame ``result``, derived from its own analyzed plan
    and the session's parallelism. Two measured regimes:

    - **JVM-stateful** drains (built-in aggregates,
      dropDuplicatesWithinWatermark, stream-stream joins) and stateless
      ones: a bounded replay's cost is per-instance maintenance — every
      store instance pays snapshot/commit bookkeeping per micro-batch
      while holding a handful of keys (a symmetric-hash join keeps FOUR
      stores per partition). The r9 probe matrix measured the floor at
      8 (stream_stream_join 7.75 s @16 → 3.47 s @8; 2.90 s @4 is inside
      noise and below the stream_ingest precedent), so: min(par, 8).
    - **python-stateful** drains (a Python state operator in the plan):
      cost is the per-batch Python worker round-trips, and cutting
      instances below worker parallelism CONCENTRATES Python work
      (stream_bitemporal_late 15.9 s @4 vs 11.8 s @16), so: width =
      parallelism capped at the measured plateau 16.

    Both clamp to the session's defaultParallelism — instances beyond
    cores only add maintenance, never concurrency, on a replay."""
    par = result.sparkSession.sparkContext.defaultParallelism
    plan = result._jdf.queryExecution().analyzed().toString()
    cap = (_REPLAY_PYTHON_STATE_CAP if _PYTHON_STATE_NODE.search(plan)
           else _REPLAY_JVM_STATE_FLOOR)
    return max(1, min(par, cap))


_ROCKSDB_PROVIDER = ("org.apache.spark.sql.execution.streaming.state."
                     "RocksDBStateStoreProvider")

# Repo-owned checkpoint root. Without an explicit checkpointLocation,
# Spark puts streaming state in its own dir under /tmp — exactly the
# state a contended host or a tmp-cleaner corrupts mid-run (round 3's
# driver bench died rc=1 on one such HDFSBackedStateStore.abort). Every
# drain gets a unique dir here and removes it when the drain finishes.
_CKPT_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), ".stream-checkpoints")


def checkpoint_dir(tag: str) -> str:
    """A fresh repo-owned checkpoint directory for one streaming query.

    Unique per call (drains are availableNow one-shots; resuming a
    previous run's checkpoint is never the intent in a bench/test
    drive — restart-recovery paths manage their own stable dirs)."""
    os.makedirs(_CKPT_ROOT, exist_ok=True)
    return tempfile.mkdtemp(prefix=f"{tag}-", dir=_CKPT_ROOT)


@contextmanager
def drain_checkpoint(tag: str):
    """Yield a unique repo-owned checkpoint dir; remove it on exit."""
    path = checkpoint_dir(tag)
    try:
        yield path
    finally:
        shutil.rmtree(path, ignore_errors=True)


@contextmanager
def rocksdb_state(spark: SparkSession):
    """Scope the RocksDB state-store provider for a stateful query about
    to START (the provider is pinned into the query's checkpoint at
    first batch). Default HDFS-backed state lives on the JVM heap —
    fine for bounded replays, a memory ceiling for arrangement-sized
    state (stream_topk_ivm's keyspace, big stream-stream joins); RocksDB
    spills state to local disk with the same exactly-once semantics.
    Same session-global caveat as :func:`state_partitions`: scope it,
    single-query-at-a-time."""
    key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(key, None)
    spark.conf.set(key, _ROCKSDB_PROVIDER)
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def run_available_now(result: DataFrame, query_name: str,
                      output_mode: str = "complete") -> StreamingQuery:
    """Drain all available input of ``result`` into the in-memory table
    ``query_name`` and return the finished query (its
    ``recentProgress`` holds every micro-batch). Complete mode: windows
    re-emit as late batches arrive.

    The drain runs under :func:`state_partitions` scoped to
    :func:`replay_state_partitions` of ``result`` — the sizing follows
    the plan, so no caller names it. Disk-backed state is the caller's
    scope (:func:`rocksdb_state`)."""
    spark = result.sparkSession
    with state_partitions(spark, replay_state_partitions(result)), \
            drain_checkpoint(query_name) as ckpt:
        q = (result.writeStream.format("memory").queryName(query_name)
             .option("checkpointLocation", ckpt)
             .outputMode(output_mode).trigger(availableNow=True).start())
        q.awaitTermination()
    return q
