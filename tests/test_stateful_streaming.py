"""Stateful streaming (JVM streaming aggregates and applyInPandasWithState
state machines) and the foreachBatch streaming-upsert sink — the complete
Lambda-analog pipeline (SURVEY §3.2: stream → validate →
stateful/windowed transform → idempotent keyed sink)."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from zoom_etl_spark.catalog import table
from zoom_etl_spark.operators.merge import merge_upsert
from zoom_etl_spark.operators.windows import last_wins
from zoom_etl_spark.streaming import stateful
from zoom_etl_spark.streaming.ingest import read_events_stream
from zoom_etl_spark.streaming.stateful import user_lifetime_stats


def test_stateful_user_stats_matches_batch(spark, sf_dir):
    stream = read_events_stream(spark, sf_dir)
    out = user_lifetime_stats(stream)
    q = (out.writeStream.format("memory").queryName("t_stateful_stats")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination()
    # update mode re-emits per batch; the final row per user is the state
    got = {r.user_id: (r.n_events, r.value_milli)
           for r in spark.table("t_stateful_stats").collect()}

    e = table(spark, sf_dir, "events")
    want = {r.user_id: (r.n, r.s) for r in
            e.groupBy("user_id").agg(
                F.count("*").alias("n"),
                F.sum(F.floor(F.col("value") * 1000).cast("long"))
                 .alias("s")).collect()}
    assert got == want


@pytest.mark.parametrize("op", ["user_lifetime_stats", "lastwins_maintain",
                                "topk_maintain"])
def test_keyed_aggregate_operators_keep_jvm_state(spark, sf_dir, op):
    """Plain keyed aggregates keep their state in the JVM streaming
    aggregate (StateStoreSave), never in a Python state machine."""
    df = getattr(stateful, op)(read_events_stream(spark, sf_dir))
    plan = spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple")
    assert "StateStoreSave" in plan, plan
    assert "FlatMapGroupsInPandasWithState" not in plan, plan


def test_stream_stream_join(spark, sf_dir):
    """Stream-stream inner join with event-time bounds: each purchase
    joined to the same user's clicks within the preceding 2 hours.
    Watermarks bound both sides' state; results equal the batch join."""
    def split(df):
        purchases = (df.filter(F.col("event_type") == "purchase")
                     .select(F.col("user_id").alias("p_user"),
                             F.col("event_id").alias("p_id"),
                             F.col("ts").alias("p_ts")))
        clicks = (df.filter(F.col("event_type") == "click")
                  .select(F.col("user_id").alias("c_user"),
                          F.col("event_id").alias("c_id"),
                          F.col("ts").alias("c_ts")))
        return purchases, clicks

    sp, sc = split(read_events_stream(spark, sf_dir))
    cond = ((F.col("p_user") == F.col("c_user"))
            & (F.col("c_ts") <= F.col("p_ts"))
            & (F.col("c_ts") >= F.col("p_ts") - F.expr("interval 2 hours")))
    joined = (sp.withWatermark("p_ts", "1 hour")
              .join(sc.withWatermark("c_ts", "1 hour"), cond)
              .select("p_id", "c_id"))
    q = (joined.writeStream.format("memory").queryName("t_ss_join")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    got = {(r.p_id, r.c_id) for r in spark.table("t_ss_join").collect()}

    bp, bc = split(table(spark, sf_dir, "events"))
    want = {(r.p_id, r.c_id) for r in bp.join(bc, cond).collect()}
    assert got == want and len(got) > 0


def test_streaming_dedup_with_watermark(spark, sf_dir):
    """Streaming exactly-once-per-key dedup: dropDuplicates under a
    watermark bounds the dedup state (keys older than the watermark age
    out) — the streaming analog of A1."""
    stream = read_events_stream(spark, sf_dir)
    deduped = (stream.withWatermark("ts", "1 hour")
               .dropDuplicates(["user_id"]))
    q = (deduped.writeStream.format("memory").queryName("t_stream_dedup")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    got = spark.table("t_stream_dedup")
    e = table(spark, sf_dir, "events")
    assert got.count() == e.select("user_id").distinct().count()
    assert got.select("user_id").distinct().count() == got.count()


def test_foreachbatch_upsert_sink(spark, sf_dir):
    """Streaming upsert contract (ST1/ST4): each micro-batch dedupes
    in-batch then merges keyed on user_id into the target; the final
    target equals single-pass batch last-wins."""
    target_dir = tempfile.mkdtemp(prefix="zes_tgt_") + "/t"
    stream = read_events_stream(spark, sf_dir)

    def sink(batch, batch_id):
        cols = ["user_id", "event_id", "event_type", "value"]
        b = (last_wins(batch, keys=["user_id"],
                       version=[F.col("ts"), F.col("event_id")])
             .select(*cols))
        try:
            old = spark.read.parquet(target_dir)
        except Exception:
            old = spark.createDataFrame([], b.schema)
        merged = merge_upsert(old, b, keys=["user_id"]).localCheckpoint()
        merged.write.mode("overwrite").parquet(target_dir)

    q = (stream.writeStream.foreachBatch(sink)
         .trigger(availableNow=True).start())
    q.awaitTermination()

    got = {r.user_id: r.event_id for r in spark.read.parquet(target_dir).collect()}
    e = table(spark, sf_dir, "events")
    want = {r.user_id: r.event_id for r in
            last_wins(e, keys=["user_id"],
                      version=[F.col("ts"), F.col("event_id")]).collect()}
    assert got == want


class _FakeState:
    def __init__(self, watermark_ms: int = 0):
        self._v, self.exists = None, False
        self.watermark_ms = watermark_ms

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v, self.exists = v, True

    def getCurrentWatermarkMs(self):
        return self.watermark_ms


def test_scd2_update_fn_out_of_order_corrects_intervals():
    """A LATE event in a later micro-batch must split the interval it
    lands in: the stale close is superseded by a tighter re-emission
    (valid_to only shrinks), and redelivered events are no-ops."""
    import pandas as pd
    from zoom_etl_spark.streaming.stateful import _scd2_update

    st = _FakeState()
    b1 = pd.DataFrame({"user_id": [1, 1], "event_id": [10, 12],
                       "event_type": ["join", "leave"],
                       "ts": pd.to_datetime(["2024-01-01 10:00",
                                             "2024-01-01 12:00"])})
    out1 = pd.concat(list(_scd2_update((1,), iter([b1]), st)))
    assert list(out1.event_id) == [10, 12]
    assert out1.iloc[0]["valid_to"] == pd.Timestamp("2024-01-01 12:00")
    assert pd.isna(out1.iloc[1]["valid_to"])

    # batch 2: event 11 arrives LATE, inside [10:00, 12:00)
    b2 = pd.DataFrame({"user_id": [1, 1], "event_id": [11, 10],
                       "event_type": ["away", "join"],
                       "ts": pd.to_datetime(["2024-01-01 11:00",
                                             "2024-01-01 10:00"])})  # 10 redelivered
    out2 = pd.concat(list(_scd2_update((1,), iter([b2]), st)))
    # corrected history: 10 re-closed at 11:00 (was 12:00), 11 closed at
    # 12:00, 12 still open — and the redelivered event 10 changed nothing
    assert list(out2.event_id) == [10, 11, 12]
    assert out2.iloc[0]["valid_to"] == pd.Timestamp("2024-01-01 11:00")
    assert out2.iloc[1]["valid_to"] == pd.Timestamp("2024-01-01 12:00")
    assert list(out2.is_current) == [False, False, True]


def test_scd2_update_fn_watermark_trims_final_versions():
    """Versions whose successor start is behind the watermark are final:
    emitted once more, then dropped from state (bounded state)."""
    import pandas as pd
    from zoom_etl_spark.streaming.stateful import _scd2_update

    # watermark at 11:30: interval [10:00, 11:00) is final, [11:00, ...)
    # is not (an event could still land after 11:30)
    wm_ms = int(pd.Timestamp("2024-01-01 11:30").value // 1_000_000)
    st = _FakeState(watermark_ms=wm_ms)
    b1 = pd.DataFrame({"user_id": [1, 1, 1], "event_id": [10, 11, 12],
                       "event_type": ["join", "away", "leave"],
                       "ts": pd.to_datetime(["2024-01-01 10:00",
                                             "2024-01-01 11:00",
                                             "2024-01-01 12:00"])})
    out1 = pd.concat(list(_scd2_update((1,), iter([b1]), st)))
    assert list(out1.event_id) == [10, 11, 12]     # all emitted this batch
    ids, _, _ = st.get
    assert list(ids) == [11, 12]                   # 10 trimmed: it's final


def test_scd2_streaming_matches_batch(spark, sf_dir):
    """End-to-end IVM: the finalized emitted log equals the batch SCD2
    window query over the same events."""
    from zoom_etl_spark.streaming.stateful import scd2_finalize, scd2_maintain
    from zoom_etl_spark.suite.analytics import scd2_history

    stream = read_events_stream(spark, sf_dir)
    out = scd2_maintain(stream)
    q = (out.writeStream.format("memory").queryName("t_scd2_ivm")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination()

    got_df = scd2_finalize(spark.table("t_scd2_ivm"))
    got = {(r.user_id, r.event_id, r.state, r.valid_from, r.valid_to,
            r.is_current) for r in got_df.collect()}
    want = {(r.user_id, r.event_id, r.state, r.valid_from, r.valid_to,
             r.is_current) for r in scd2_history(spark, sf_dir).collect()}
    assert got == want and len(got) > 0


def test_scd2_streaming_out_of_order_multibatch(spark, sf_dir):
    """Round-2 VERDICT item 1 done-gate: the SAME events replayed
    SHUFFLED across multiple micro-batches (newest slice first) must
    still converge to the batch SCD2 history — late arrivals split
    intervals and the corrections supersede the stale closes."""
    from .fixtures import ooo_events_stream
    from zoom_etl_spark.streaming.stateful import scd2_finalize, scd2_maintain
    from zoom_etl_spark.suite.analytics import scd2_history

    stream = ooo_events_stream(spark, sf_dir)
    out = scd2_maintain(stream)
    q = (out.writeStream.format("memory").queryName("t_scd2_ooo")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination()

    got_df = scd2_finalize(spark.table("t_scd2_ooo"))
    got = {(r.user_id, r.event_id, r.state, r.valid_from, r.valid_to,
            r.is_current) for r in got_df.collect()}
    want = {(r.user_id, r.event_id, r.state, r.valid_from, r.valid_to,
             r.is_current) for r in scd2_history(spark, sf_dir).collect()}
    assert got == want and len(got) > 0


def test_scd2_streaming_watermarked_ooo_still_converges(spark, sf_dir):
    """With a watermark wide enough to admit every late slice, trimming
    is active (bounded state) AND the converged history is still exact."""
    from .fixtures import ooo_events_stream
    from zoom_etl_spark.streaming.stateful import scd2_finalize, scd2_maintain
    from zoom_etl_spark.suite.analytics import scd2_history

    # events span ~90 days; slices arrive newest-first, so a late row can
    # be the full span behind the max ts seen — the watermark must cover
    # it or rows would be dropped (correctly, but then != batch history)
    stream = ooo_events_stream(spark, sf_dir).withWatermark("ts", "120 days")
    out = scd2_maintain(stream)
    q = (out.writeStream.format("memory").queryName("t_scd2_wm")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination()

    got_df = scd2_finalize(spark.table("t_scd2_wm"))
    got = {(r.user_id, r.event_id, r.state, r.valid_from, r.valid_to,
            r.is_current) for r in got_df.collect()}
    want = {(r.user_id, r.event_id, r.state, r.valid_from, r.valid_to,
             r.is_current) for r in scd2_history(spark, sf_dir).collect()}
    assert got == want and len(got) > 0


def test_lastwins_ivm_out_of_order_multibatch(spark, sf_dir):
    """Last-wins IVM must converge to the batch answer even when
    micro-batches arrive out of event-time order: the newest data is
    fed FIRST, then older replays — the redelivery/late-replay case the
    state design (keep max (ts, event_id)) exists for."""
    from pyspark.sql.window import Window

    from zoom_etl_spark.streaming.ingest import EVENTS_SCHEMA
    from zoom_etl_spark.streaming.stateful import (lastwins_finalize,
                                                   lastwins_maintain)

    e = table(spark, sf_dir, "events")
    srcdir = tempfile.mkdtemp(prefix="zes_ooo_")
    # newest third first (file 0), oldest last (file 2)
    thirds = F.ntile(3).over(Window.orderBy(F.col("ts").desc()))
    parts = e.withColumn("g", thirds)
    raw = parts.withColumn("ts", F.unix_micros("ts") * 1000)  # back to nanos-long
    for g in (1, 2, 3):
        (raw.filter(F.col("g") == g).drop("g")
         .coalesce(1).write.mode("overwrite").parquet(f"{srcdir}/f{g}"))
    # replay of the newest slice again at the end = redelivery
    stream = (spark.readStream.schema(EVENTS_SCHEMA)
              .option("maxFilesPerTrigger", "1")
              .option("recursiveFileLookup", "true").parquet(srcdir)
              .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000"))))
    out = lastwins_maintain(stream)
    q = (out.writeStream.format("memory").queryName("t_lw_ooo")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination()
    got = {(r.user_id, r.event_id)
           for r in lastwins_finalize(spark.table("t_lw_ooo")).collect()}
    want = {(r.user_id, r.event_id)
            for r in last_wins(e, keys=["user_id"],
                               version=[F.col("ts"), F.col("event_id")]).collect()}
    assert got == want


def _retract_replay(spark, sf_dir, qname):
    """Replay events as 3 out-of-event-time-order micro-batches (newest
    first) through retract_maintain; return the drained changelog."""
    from pyspark.sql.window import Window

    from zoom_etl_spark.streaming.ingest import EVENTS_SCHEMA
    from zoom_etl_spark.streaming.stateful import retract_maintain

    e = table(spark, sf_dir, "events")
    srcdir = tempfile.mkdtemp(prefix="zes_retract_")
    thirds = F.ntile(3).over(Window.orderBy(F.col("ts").desc()))
    raw = (e.withColumn("g", thirds)
           .withColumn("ts", F.unix_micros("ts") * 1000))
    for g in (1, 2, 3):
        (raw.filter(F.col("g") == g).drop("g")
         .coalesce(1).write.mode("overwrite").parquet(f"{srcdir}/f{g}"))
    stream = (spark.readStream.schema(EVENTS_SCHEMA)
              .option("maxFilesPerTrigger", "1")
              .option("recursiveFileLookup", "true").parquet(srcdir)
              .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000"))))
    out = retract_maintain(stream)
    q = (out.writeStream.format("memory").queryName(qname)
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination()
    return spark.table(qname)


def test_retract_ivm_changelog_algebra(spark, sf_dir):
    """Every retraction must carry EXACTLY a previously-emitted addition
    (same key, version, count, sum), ops must net to one live row per
    key, and the fold must equal the batch aggregate."""
    from zoom_etl_spark.streaming.stateful import changelog_fold

    log = _retract_replay(spark, sf_dir, "t_retract_alg").collect()
    adds = {(r.user_id, r.version): (r.n_events, round(r.value_sum, 6))
            for r in log if r.op in ("+I", "+U")}
    retracts = [(r.user_id, r.version, r.n_events, round(r.value_sum, 6))
                for r in log if r.op == "-U"]
    assert len(retracts) > 0  # multi-batch replay must actually retract
    for uid, ver, n, s in retracts:
        assert adds[(uid, ver)] == (n, s)  # retracts what was emitted
    # net live rows: one per key (adds minus retracts)
    per_key: dict[int, int] = {}
    for r in log:
        per_key[r.user_id] = per_key.get(r.user_id, 0) + (
            1 if r.op in ("+I", "+U") else -1)
    assert set(per_key.values()) == {1}

    got = {(r.user_id, r.n_events, round(r.value_sum, 6))
           for r in changelog_fold(
               spark.table("t_retract_alg")).collect()}
    e = table(spark, sf_dir, "events")
    want = {(r.user_id, r.n, round(r.s, 6)) for r in
            e.groupBy("user_id").agg(F.count("*").alias("n"),
                                     F.sum("value").alias("s")).collect()}
    assert got == want


def test_retract_ivm_downstream_consumer(spark, sf_dir):
    """The changelog's raison d'être: a downstream consumer maintaining a
    GLOBAL total by adding '+' rows and subtracting '-' rows converges to
    the batch total — impossible with last-wins re-emission alone (it
    would double-count every updated key)."""
    log = _retract_replay(spark, sf_dir, "t_retract_sum")
    signed = log.select(
        F.when(F.col("op") == "-U", -F.col("n_events"))
        .otherwise(F.col("n_events")).alias("n"),
        F.when(F.col("op") == "-U", -F.col("value_sum"))
        .otherwise(F.col("value_sum")).alias("s"))
    got = signed.agg(F.sum("n").alias("n"), F.sum("s").alias("s")).collect()[0]
    e = table(spark, sf_dir, "events")
    want = e.agg(F.count("*").alias("n"), F.sum("value").alias("s")).collect()[0]
    assert got.n == want.n
    assert abs(got.s - want.s) < 1e-6


def test_anomaly_ivm_planted_outlier(spark, tmp_path):
    """A user with 10 flat values then a spike: the spike (and only the
    spike) is flagged; the warm-up events are not, and a second flat
    user flags nothing."""
    import pandas as pd
    from zoom_etl_spark.streaming.ingest import (read_events_stream,
                                                 run_available_now)
    from zoom_etl_spark.streaming.stateful import anomaly_maintain
    base = pd.Timestamp("2026-01-01")
    rows = []
    eid = 0
    for i in range(11):
        # user 1: 0.50 ± tiny jitter, then a 0.99 spike at the end
        v = 0.99 if i == 10 else 0.50 + (i % 3) * 0.001
        rows.append((eid, base + pd.Timedelta(minutes=i), 1, "view", v, "{}"))
        eid += 1
        rows.append((eid, base + pd.Timedelta(minutes=i), 2, "view", 0.5, "{}"))
        eid += 1
    pdf = pd.DataFrame(rows, columns=["event_id", "ts", "user_id",
                                      "event_type", "value", "props"])
    src = str(tmp_path / "anom_src")
    (spark.createDataFrame(pdf).coalesce(1)
     .write.parquet(f"{src}/events.parquet"))
    stream = read_events_stream(spark, src)
    out = anomaly_maintain(stream)
    run_available_now(out, "anom_planted_log", output_mode="append")
    got = {(r.user_id, r.event_id): r.is_anom
           for r in spark.table("anom_planted_log").collect()}
    flagged = {k for k, v in got.items() if v}
    assert flagged == {(1, 20)}, flagged   # only user 1's spike (11th event)
    assert len(got) == 22                  # every event got a verdict


def test_topk_ivm_out_of_order_multibatch(spark, sf_dir):
    """Top-k IVM must converge to the batch leaderboard when
    micro-batches arrive out of event-time order (newest slice first):
    additive integer sums are commutative, so replay order must not
    matter, and the final snapshot (max seq per group) must equal the
    batch groupBy+rank answer."""
    from pyspark.sql.window import Window

    from zoom_etl_spark.streaming.ingest import EVENTS_SCHEMA
    from zoom_etl_spark.streaming.stateful import (topk_finalize,
                                                   topk_maintain)

    e = table(spark, sf_dir, "events")
    srcdir = tempfile.mkdtemp(prefix="zes_topk_ooo_")
    thirds = F.ntile(3).over(Window.orderBy(F.col("ts").desc()))
    parts = e.withColumn("g", thirds)
    raw = parts.withColumn("ts", F.unix_micros("ts") * 1000)
    for g in (1, 2, 3):
        (raw.filter(F.col("g") == g).drop("g")
         .coalesce(1).write.mode("overwrite").parquet(f"{srcdir}/f{g}"))
    stream = (spark.readStream.schema(EVENTS_SCHEMA)
              .option("maxFilesPerTrigger", "1")
              .option("recursiveFileLookup", "true").parquet(srcdir)
              .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000"))))
    out = topk_maintain(stream)
    q = (out.writeStream.format("memory").queryName("t_topk_ooo")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination()
    got = {(r.event_type, r.rnk, r.user_id, r.total_milli)
           for r in topk_finalize(spark.table("t_topk_ooo")).collect()}
    s = (e.groupBy("event_type", "user_id")
          .agg(F.sum(F.floor(F.col("value") * 1000).cast("long"))
                .alias("total_milli")))
    w = Window.partitionBy("event_type").orderBy(
        F.col("total_milli").desc(), F.col("user_id"))
    want = {(r.event_type, r.rnk, r.user_id, r.total_milli)
            for r in (s.withColumn("rnk", F.row_number().over(w))
                        .filter(F.col("rnk") <= 10)).collect()}
    assert got == want


def test_topk_ivm_rocksdb_state_store(spark, sf_dir):
    """The arrangement-sized top-k IVM must produce the identical
    converged leaderboard under the RocksDB state-store provider (the
    disk-backed state path a 100 TB keyspace requires) as under the
    default heap-backed provider."""
    from contextlib import nullcontext

    from zoom_etl_spark.streaming.ingest import (read_events_stream,
                                                 rocksdb_state,
                                                 run_available_now)
    from zoom_etl_spark.streaming.stateful import (topk_finalize,
                                                   topk_maintain)

    def drain(name, provider):
        out = topk_maintain(read_events_stream(spark, sf_dir))
        with provider:
            run_available_now(out, name, output_mode="update")
        return {(r.event_type, r.rnk, r.user_id, r.total_milli)
                for r in topk_finalize(spark.table(name)).collect()}

    assert drain("t_topk_rocks", rocksdb_state(spark)) == \
        drain("t_topk_heap", nullcontext())
    # provider config must be restored after the scoped drain
    assert spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass",
        "unset").find("RocksDB") == -1


def _bt_stream_from_files(spark, sf_dir, tmpdir, order):
    """Split events into 3 tx-range files; `order` maps file index →
    mtime age so listing order follows (older mtime streams first)."""
    import os
    import time

    from zoom_etl_spark.streaming.ingest import EVENTS_SCHEMA
    e = table(spark, sf_dir, "events").limit(3000)
    raw = e.withColumn("ts", F.unix_micros("ts") * 1000)
    mx = e.agg(F.max("event_id")).first()[0]
    cuts = [mx // 3, 2 * mx // 3]
    parts = [raw.filter(F.col("event_id") <= cuts[0]),
             raw.filter((F.col("event_id") > cuts[0])
                        & (F.col("event_id") <= cuts[1])),
             raw.filter(F.col("event_id") > cuts[1])]
    now = time.time()
    for i, (p, age) in enumerate(zip(parts, order)):
        d = f"{tmpdir}/f{i}"
        p.coalesce(1).write.mode("overwrite").parquet(d)
        for root, _, files in os.walk(d):
            for fn in files:
                os.utime(os.path.join(root, fn), (now - age, now - age))
    return (spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true").parquet(str(tmpdir))
            .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000"))))


def test_bitemporal_ivm_multibatch_matches_batch(spark, sf_dir, tmp_path):
    """Three tx-ordered micro-batches must converge to exactly the batch
    bitemporal construction — closed rows, open rows, tx intervals and
    all."""
    from zoom_etl_spark.operators.bitemporal import bitemporal_history
    from zoom_etl_spark.streaming.ingest import run_available_now
    from zoom_etl_spark.streaming.stateful import (bitemporal_finalize,
                                                   bitemporal_maintain)

    stream = _bt_stream_from_files(spark, sf_dir, tmp_path, (300, 200, 100))
    assertions = stream.select(
        "user_id", F.col("ts").alias("valid"),
        F.floor(F.col("value") * 1000).cast("long").alias("value"),
        F.col("event_id").alias("tx"))
    run_available_now(bitemporal_maintain(assertions), "t_bt_mb",
                      output_mode="update")
    got = {tuple(r) for r in
           bitemporal_finalize(spark.table("t_bt_mb")).collect()}

    e = table(spark, sf_dir, "events").limit(3000)
    batch = bitemporal_history(e.select(
        "user_id", F.col("ts").alias("valid"),
        F.floor(F.col("value") * 1000).cast("long").alias("value"),
        F.col("event_id").alias("tx")))
    want = {tuple(r) for r in batch.select(
        "user_id", "value", "valid_from", "valid_to",
        "tx_from", "tx_to").collect()}
    got_norm = {(r[0], r[2], r[3], r[4], r[5], r[1]) for r in
                ((g[0], g[1], g[2], g[3], g[4], g[5]) for g in got)}
    want_norm = {(r[0], r[2], r[3], r[4], r[5], r[1]) for r in want}
    assert got_norm == want_norm


def test_bitemporal_ivm_out_of_order_raises(spark, sf_dir, tmp_path):
    """A batch delivering tx below a key's high-water mark must abort
    loudly (TransactionOrderError semantics), never record a corrupt
    belief history."""
    from py4j.protocol import Py4JJavaError

    from zoom_etl_spark.streaming.ingest import run_available_now
    from zoom_etl_spark.streaming.stateful import bitemporal_maintain

    # newest tx range FIRST → second batch violates the high-water mark
    stream = _bt_stream_from_files(spark, sf_dir, tmp_path, (100, 200, 300))
    assertions = stream.select(
        "user_id", F.col("ts").alias("valid"),
        F.floor(F.col("value") * 1000).cast("long").alias("value"),
        F.col("event_id").alias("tx"))
    with pytest.raises((Py4JJavaError, Exception)) as ei:
        run_available_now(bitemporal_maintain(assertions), "t_bt_ooo",
                          output_mode="update")
    assert "TransactionOrderError" in str(ei.value) \
        or "high-water" in str(ei.value)


def test_bitemporal_ivm_out_of_order_converges_with_lateness(
        spark, sf_dir, tmp_path):
    """The SAME shuffled delivery the strict default aborts on (middle
    tx range lands LAST — a late backfill file) must, with a
    ``tx_lateness`` covering the reorder, converge to exactly the batch
    bitemporal construction: the low range finalizes under the bound
    while the high range sits previewed in the holding pen until the
    middle range arrives and re-runs it."""
    from zoom_etl_spark.operators.bitemporal import bitemporal_history
    from zoom_etl_spark.streaming.ingest import run_available_now
    from zoom_etl_spark.streaming.stateful import (bitemporal_finalize,
                                                   bitemporal_maintain)

    # file ages: low range first, HIGH range second, middle range last
    stream = _bt_stream_from_files(spark, sf_dir, tmp_path, (300, 100, 200))
    assertions = stream.select(
        "user_id", F.col("ts").alias("valid"),
        F.floor(F.col("value") * 1000).cast("long").alias("value"),
        F.col("event_id").alias("tx"))
    e = table(spark, sf_dir, "events").limit(3000)
    mx = e.agg(F.max("event_id")).first()[0]
    # middle range (mx/3, 2mx/3] arrives when key max is already ~mx:
    # lateness up to mx - mx/3 - 1; anything smaller must raise instead
    run_available_now(
        bitemporal_maintain(assertions, tx_lateness=2 * mx // 3 + 2),
        "t_bt_late", output_mode="update")
    got = {tuple(r) for r in
           bitemporal_finalize(spark.table("t_bt_late"))
           .select("user_id", "value", "valid_from", "valid_to",
                   "tx_from", "tx_to").collect()}

    batch = bitemporal_history(e.select(
        "user_id", F.col("ts").alias("valid"),
        F.floor(F.col("value") * 1000).cast("long").alias("value"),
        F.col("event_id").alias("tx")))
    want = {tuple(r) for r in batch.select(
        "user_id", "value", "valid_from", "valid_to",
        "tx_from", "tx_to").collect()}
    assert got == want


def test_stateful_restart_resumes_state(spark, sf_dir):
    """Kill-and-resume for a STATEFUL query (the state-store recovery
    path a real failure exercises): drain part of the source with an
    explicit checkpoint, then start a NEW query from the SAME checkpoint
    after more (strictly older) files land. File-source progress must
    resume (only the new file replays) and the per-key state must be
    RESTORED: `lastwins_maintain` (update mode) re-emits the current
    winner for every touched key, so with restored state the resumed
    drain emits the phase-1 winners for keys whose newest event
    predates the restart — lost state would emit the older tail events
    as winners instead."""
    import tempfile

    from pyspark.sql.window import Window

    from zoom_etl_spark.operators.windows import last_wins
    from zoom_etl_spark.streaming.ingest import EVENTS_SCHEMA
    from zoom_etl_spark.streaming.stateful import (lastwins_finalize,
                                                   lastwins_maintain)

    e = table(spark, sf_dir, "events")
    srcdir = tempfile.mkdtemp(prefix="zes_restart_state_")
    ck = tempfile.mkdtemp(prefix="zes_restart_state_ck_")
    thirds = F.ntile(3).over(Window.orderBy(F.col("ts").desc()))
    raw = (e.withColumn("g", thirds)
           .withColumn("ts", F.unix_micros("ts") * 1000))
    for g in (1, 2):  # newest two thirds are present before the "crash"
        (raw.filter(F.col("g") == g).drop("g")
         .coalesce(1).write.mode("overwrite").parquet(f"{srcdir}/f{g}"))

    def stream():
        return (spark.readStream.schema(EVENTS_SCHEMA)
                .option("maxFilesPerTrigger", "1")
                .option("recursiveFileLookup", "true").parquet(srcdir)
                .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000"))))

    def drain():
        # memory sink can't recover from a checkpoint; foreachBatch can
        rows = []
        q = (lastwins_maintain(stream())
             .writeStream.foreachBatch(lambda b, _i: rows.extend(b.collect()))
             .outputMode("update").option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        return rows

    p1 = drain()
    assert p1, "phase 1 emitted nothing"

    # the oldest third lands while the query is down; resume from ck
    (raw.filter(F.col("g") == 3).drop("g")
     .coalesce(1).write.mode("overwrite").parquet(f"{srcdir}/f3"))
    p2 = drain()
    assert p2, "resumed drain emitted nothing"

    want = {(r.user_id, r.event_id)
            for r in last_wins(e, keys=["user_id"],
                               version=[F.col("ts"), F.col("event_id")])
            .collect()}
    # state restoration: every re-emitted winner is the GLOBAL winner —
    # for keys whose newest event was in phase 1, that is only possible
    # if the restart restored their state
    got2 = {(r.user_id, r.event_id) for r in p2}
    assert got2 <= want, f"resumed drain emitted stale winners: {got2 - want}"
    phase1_keys = {r.user_id for r in p1}
    resumed_old_keys = {u for u, _ in got2} & phase1_keys
    assert resumed_old_keys, "no restored-state key was re-emitted"

    # and the union of both drains converges to the batch answer
    both = spark.createDataFrame(p1 + p2)
    got = {(r.user_id, r.event_id) for r in lastwins_finalize(both).collect()}
    assert got == want


def test_stateful_restart_rocksdb_parity(spark, sf_dir):
    """The same kill-and-resume cycle under the RocksDB state-store
    provider (the checkpoint pins the provider at first batch, so the
    resumed query must come back up on RocksDB and read back the spilled
    state): restored winners only, converged equals batch — provider
    parity for the recovery path, not just the happy path that
    test_topk_ivm_rocksdb_state_store covers."""
    import tempfile

    from pyspark.sql.window import Window

    from zoom_etl_spark.operators.windows import last_wins
    from zoom_etl_spark.streaming.ingest import (EVENTS_SCHEMA,
                                                 rocksdb_state)
    from zoom_etl_spark.streaming.stateful import (lastwins_finalize,
                                                   lastwins_maintain)

    e = table(spark, sf_dir, "events")
    srcdir = tempfile.mkdtemp(prefix="zes_rocks_restart_")
    ck = tempfile.mkdtemp(prefix="zes_rocks_restart_ck_")
    thirds = F.ntile(3).over(Window.orderBy(F.col("ts").desc()))
    raw = (e.withColumn("g", thirds)
           .withColumn("ts", F.unix_micros("ts") * 1000))
    for g in (1, 2):
        (raw.filter(F.col("g") == g).drop("g")
         .coalesce(1).write.mode("overwrite").parquet(f"{srcdir}/f{g}"))

    def drain():
        rows = []
        stream = (spark.readStream.schema(EVENTS_SCHEMA)
                  .option("maxFilesPerTrigger", "1")
                  .option("recursiveFileLookup", "true").parquet(srcdir)
                  .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000"))))
        with rocksdb_state(spark):
            q = (lastwins_maintain(stream)
                 .writeStream.foreachBatch(
                     lambda b, _i: rows.extend(b.collect()))
                 .outputMode("update").option("checkpointLocation", ck)
                 .trigger(availableNow=True).start())
            q.awaitTermination()
        return rows

    p1 = drain()
    assert p1
    (raw.filter(F.col("g") == 3).drop("g")
     .coalesce(1).write.mode("overwrite").parquet(f"{srcdir}/f3"))
    p2 = drain()
    assert p2

    want = {(r.user_id, r.event_id)
            for r in last_wins(e, keys=["user_id"],
                               version=[F.col("ts"), F.col("event_id")])
            .collect()}
    got2 = {(r.user_id, r.event_id) for r in p2}
    assert got2 <= want, f"stale winners after RocksDB restart: {got2 - want}"
    got = {(r.user_id, r.event_id)
           for r in lastwins_finalize(spark.createDataFrame(p1 + p2))
           .collect()}
    assert got == want


def _mk_maxts_maintain(with_count: bool):
    """Two versions of one stateful operator for the schema-upgrade
    test: v1 state = (max_ts); v2 adds a (count) field — the typical
    'operator grew a metric' evolution. Output schema is identical, so
    only the STATE schema differs across the upgrade."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType([StructField("user_id", LongType()),
                             StructField("max_ts", LongType())])
    fields = [StructField("max_ts", LongType())]
    if with_count:
        fields.append(StructField("n", LongType()))
    st_schema = StructType(fields)

    def update(key, pdfs, state):
        if state.exists:
            mx = int(state.get[0])
            n = int(state.get[1]) if with_count else 0
        else:
            mx, n = -1, 0
        for pdf in pdfs:
            if len(pdf):
                mx = max(mx, int(pdf["ts_us"].max()))
                n += len(pdf)
        state.update((mx, n) if with_count else (mx,))
        yield pd.DataFrame({"user_id": [int(key[0])], "max_ts": [mx]})

    def maintain(stream):
        return (stream.groupBy("user_id")
                .applyInPandasWithState(update, out_schema, st_schema,
                                        "update",
                                        GroupStateTimeout.NoTimeout))
    return maintain


def test_checkpoint_state_schema_upgrade(spark, sf_dir):
    """Operator STATE-schema evolution across restart (ROADMAP item 9's
    remaining half): a v2 operator whose state grew a field must NOT
    silently reinterpret v1 state bytes — Spark's state-schema check
    has to reject the restart loudly. The checkpoint must survive the
    rejected attempt (v1 still resumes from it), and the supported
    upgrade path — full replay into a FRESH checkpoint under v2 —
    converges to the batch answer."""
    from zoom_etl_spark.streaming.ingest import EVENTS_SCHEMA

    e = table(spark, sf_dir, "events")
    srcdir = tempfile.mkdtemp(prefix="zes_upgrade_")
    ck_v1 = tempfile.mkdtemp(prefix="zes_upgrade_ck1_")
    raw = e.withColumn("ts", F.unix_micros("ts") * 1000)
    half = e.agg(F.expr("max(event_id) div 2")).first()[0]
    (raw.filter(F.col("event_id") <= half).coalesce(1)
        .write.mode("overwrite").parquet(f"{srcdir}/f1"))

    def stream():
        return (spark.readStream.schema(EVENTS_SCHEMA)
                .option("recursiveFileLookup", "true").parquet(srcdir)
                .select("user_id",
                        F.expr("ts div 1000").alias("ts_us")))

    def drain(maintain, ck):
        rows = []
        q = (maintain(stream())
             .writeStream.foreachBatch(lambda b, _i: rows.extend(b.collect()))
             .outputMode("update").option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        return rows

    v1 = _mk_maxts_maintain(with_count=False)
    v2 = _mk_maxts_maintain(with_count=True)
    assert drain(v1, ck_v1), "v1 phase emitted nothing"

    # second half lands; restarting the GROWN-state operator on the v1
    # checkpoint must be rejected by the state schema check, not
    # misread v1 rows
    (raw.filter(F.col("event_id") > half).coalesce(1)
        .write.mode("overwrite").parquet(f"{srcdir}/f2"))
    with pytest.raises(Exception) as ei:
        drain(v2, ck_v1)
    assert "schema" in str(ei.value).lower(), str(ei.value)[:400]

    # the rejected attempt must not have corrupted the checkpoint: v1
    # resumes and processes the new file
    p2 = drain(v1, ck_v1)
    assert p2, "v1 could not resume after the rejected v2 attempt"

    # supported upgrade: replay everything into a fresh checkpoint
    ck_v2 = tempfile.mkdtemp(prefix="zes_upgrade_ck2_")
    p_v2 = drain(v2, ck_v2)
    want = {(r.user_id, r.mx) for r in
            e.groupBy("user_id")
             .agg(F.max(F.unix_micros("ts")).alias("mx")).collect()}
    final = {}
    for r in p_v2:
        final[r.user_id] = max(final.get(r.user_id, -1), r.max_ts)
    assert set(final.items()) == want


def test_cusum_ivm_inorder_multibatch_matches_single_batch(spark, sf_dir):
    """CUSUM state must carry across micro-batches: three in-event-time-
    order slices (maxFilesPerTrigger=1) must produce exactly the same
    per-event S±/alarm log as the single-batch drain — the fold is
    order-dependent, so this is the cross-batch state-carry proof the
    single-file oracle run cannot give."""
    from pyspark.sql.window import Window

    from zoom_etl_spark.streaming.ingest import (EVENTS_SCHEMA,
                                                 read_events_stream,
                                                 run_available_now)
    from zoom_etl_spark.streaming.stateful import cusum_maintain

    e = table(spark, sf_dir, "events")
    targets = {"view": 5000, "click": 5000, "purchase": 20000,
               "signup": 1000, "error": 1000}
    # single-batch reference
    ref_out = cusum_maintain(read_events_stream(spark, sf_dir), targets)
    run_available_now(ref_out, "cusum_ref_log", output_mode="append")
    ref = {(r.event_type, r.event_id): (r.cusum_hi, r.cusum_lo,
                                        r.alarm_hi, r.alarm_lo)
           for r in spark.table("cusum_ref_log").collect()}
    # three ordered slices
    srcdir = tempfile.mkdtemp(prefix="zes_cusum_ord_")
    thirds = F.ntile(3).over(Window.orderBy("ts", "event_id"))
    raw = (e.withColumn("g", thirds)
            .withColumn("ts", F.unix_micros("ts") * 1000))
    for g in (1, 2, 3):
        (raw.filter(F.col("g") == g).drop("g")
         .coalesce(1).write.mode("overwrite").parquet(f"{srcdir}/f{g}"))
    stream = (spark.readStream.schema(EVENTS_SCHEMA)
              .option("maxFilesPerTrigger", "1")
              .option("recursiveFileLookup", "true").parquet(srcdir)
              .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000"))))
    out = cusum_maintain(stream, targets)
    q = (out.writeStream.format("memory").queryName("cusum_ord_log")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    got = {(r.event_type, r.event_id): (r.cusum_hi, r.cusum_lo,
                                        r.alarm_hi, r.alarm_lo)
           for r in spark.table("cusum_ord_log").collect()}
    assert got == ref
    assert len(got) == e.count()


def test_cusum_ivm_planted_drift_alarms(spark, tmp_path):
    """A series sitting at the in-control mean never alarms; after a
    sustained +30% shift the high-side CUSUM must cross h = mu/2
    within h/(shift-k) events and stay in alarm; the mirror side
    stays silent."""
    import pandas as pd

    from zoom_etl_spark.streaming.ingest import (read_events_stream,
                                                 run_available_now)
    from zoom_etl_spark.streaming.stateful import cusum_maintain

    base = pd.Timestamp("2026-01-01")
    rows = []
    for i in range(40):
        v = 1.00 if i < 20 else 1.30   # mu=100 cents, then +30 drift
        rows.append((i, base + pd.Timedelta(minutes=i), 1, "view", v, "{}"))
    pdf = pd.DataFrame(rows, columns=["event_id", "ts", "user_id",
                                      "event_type", "value", "props"])
    src = str(tmp_path / "cusum_src")
    (spark.createDataFrame(pdf).coalesce(1)
     .write.parquet(f"{src}/events.parquet"))
    out = cusum_maintain(read_events_stream(spark, src), {"view": 100})
    run_available_now(out, "cusum_drift_log", output_mode="append")
    got = sorted(spark.table("cusum_drift_log").collect(),
                 key=lambda r: r.event_id)
    # mu=100, k=5, h=50; in-control: v-mu-k = -5 -> S+ pinned at 0
    for r in got[:20]:
        assert r.cusum_hi == 0 and not r.alarm_hi and not r.alarm_lo
    # drift: each event adds 30-5=25; alarm from the 3rd drift event on
    drift = got[20:]
    assert [r.alarm_hi for r in drift[:4]] == [False, False, True, True]
    assert all(r.alarm_hi for r in drift[2:])
    assert not any(r.alarm_lo for r in drift)


def test_funnel_ivm_multibatch_and_ordering_semantics(spark, tmp_path):
    """Funnel state must carry across micro-batches (a user completing
    one stage per batch converges to stage 3), strict ordering must
    hold (a click BEFORE the signup never counts), and a user with
    only non-funnel events stays at stage 0."""
    import pandas as pd

    from zoom_etl_spark.streaming.ingest import EVENTS_SCHEMA
    from zoom_etl_spark.streaming.stateful import (funnel_finalize,
                                                   funnel_maintain)

    base = pd.Timestamp("2026-01-01")
    mk = lambda eid, m, u, et: (eid, base + pd.Timedelta(minutes=m),
                                u, et, 1.0, "{}")
    batches = [
        # u1 progresses one stage per batch; u2's click precedes its
        # signup (must NOT count); u3 only views
        [mk(1, 10, 1, "signup"), mk(2, 5, 2, "click"),
         mk(3, 1, 3, "view")],
        [mk(4, 20, 1, "click"), mk(5, 15, 2, "signup"),
         mk(6, 2, 3, "view")],
        [mk(7, 30, 1, "purchase"), mk(8, 25, 2, "purchase")],
    ]
    srcdir = str(tmp_path / "funnel_src")
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    for i, rows in enumerate(batches):
        pdf = pd.DataFrame(rows, columns=cols)
        df = spark.createDataFrame(pdf).withColumn(
            "ts", F.unix_micros("ts") * 1000)
        df.coalesce(1).write.parquet(f"{srcdir}/b{i}")
    stream = (spark.readStream.schema(EVENTS_SCHEMA)
              .option("maxFilesPerTrigger", "1")
              .option("recursiveFileLookup", "true").parquet(srcdir)
              .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000"))))
    out = funnel_maintain(stream)
    q = (out.writeStream.format("memory").queryName("funnel_mb_log")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination()
    final = {r.user_id: r.stage_reached for r in
             funnel_finalize(spark.table("funnel_mb_log")).collect()}
    # u1: signup(10) -> click(20) -> purchase(30) = 3
    # u2: click(5) ignored (before signup 15); purchase(25) needs a
    #     click after signup -> stuck at 1
    # u3: views only -> 0
    assert final == {1: 3, 2: 1, 3: 0}, final
    # the update log must show u1 climbing monotonically
    u1 = sorted((r.seq, r.stage_reached) for r in
                spark.table("funnel_mb_log").collect() if r.user_id == 1)
    assert [s for _, s in u1] == [1, 2, 3]


def test_drift_ivm_multibatch_converges(spark, sf_dir):
    """The PSI IVM must converge to the batch drift_psi when the
    events arrive as three out-of-event-time-order micro-batches:
    counts are additive-monotone, so the max-per-key finalizer must
    reproduce the single-batch snapshot exactly."""
    from pyspark.sql.window import Window

    from zoom_etl_spark.registry import all_queries
    from zoom_etl_spark.streaming.ingest import EVENTS_SCHEMA

    e = table(spark, sf_dir, "events")
    srcdir = tempfile.mkdtemp(prefix="zes_drift_ooo_")
    thirds = F.ntile(3).over(Window.orderBy(F.col("ts").desc()))
    raw = (e.withColumn("g", thirds)
            .withColumn("ts", F.unix_micros("ts") * 1000))
    for g in (1, 2, 3):
        (raw.filter(F.col("g") == g).drop("g")
         .coalesce(1).write.mode("overwrite").parquet(f"{srcdir}/f{g}"))
    stream = (spark.readStream.schema(EVENTS_SCHEMA)
              .option("maxFilesPerTrigger", "1")
              .option("recursiveFileLookup", "true").parquet(srcdir)
              .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000"))))
    x = stream.select(
        "event_type",
        F.when(F.col("value") < 0, 0)
         .when(F.col("value") >= 100, 21)
         .otherwise(F.floor(F.col("value") / 5).cast("int") + 1)
         .alias("bucket"),
        F.when(F.col("ts") < F.lit("2024-01-16").cast("timestamp"), 1)
         .otherwise(0).alias("isb"))
    counts = (x.groupBy("event_type", "bucket")
              .agg(F.sum("isb").alias("nb"),
                   F.sum(1 - F.col("isb")).alias("nc")))
    q = (counts.writeStream.format("memory").queryName("t_drift_ooo")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination()
    got_counts = {(r.event_type, r.bucket): (r.nb, r.nc)
                  for r in (spark.table("t_drift_ooo")
                            .groupBy("event_type", "bucket")
                            .agg(F.max("nb").alias("nb"),
                                 F.max("nc").alias("nc"))).collect()}
    want_counts = {(r.event_type, r.bucket): (r.nb, r.nc)
                   for r in (e.select(
                       "event_type",
                       F.when(F.col("value") < 0, 0)
                        .when(F.col("value") >= 100, 21)
                        .otherwise(F.floor(F.col("value") / 5)
                                   .cast("int") + 1).alias("bucket"),
                       F.when(F.col("ts")
                              < F.lit("2024-01-16").cast("timestamp"), 1)
                        .otherwise(0).alias("isb"))
                       .groupBy("event_type", "bucket")
                       .agg(F.sum("isb").alias("nb"),
                            F.sum(1 - F.col("isb")).alias("nc"))).collect()}
    assert got_counts == want_counts
    # the multi-batch log really contains superseded snapshots (update
    # mode emitted more than the final row per key)
    assert spark.table("t_drift_ooo").count() > len(got_counts)
    # end to end: the registered query equals the batch drift_psi
    got = {r.event_type: r.psi for r in
           all_queries()["stream_drift_ivm"].fn(spark, sf_dir).collect()}
    want = {r.event_type: r.psi for r in
            all_queries()["drift_psi"].fn(spark, sf_dir).collect()}
    assert got == want
