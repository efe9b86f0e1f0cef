"""Custom source + streaming + multimodal plumbing tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from zoom_etl_spark.catalog import table
from zoom_etl_spark.sources import rest
from zoom_etl_spark.sources.multimodal import (attach_fake_media, decode_media,
                                               sample_frames)
from zoom_etl_spark.streaming.ingest import (read_events_stream,
                                             run_available_now,
                                             windowed_counts)


def test_paginated_source_pagination_and_partitioning(spark):
    rest.register(spark)
    df = (spark.read.format("paginated_rest")
          .option("nkeys", "6").option("numpartitions", "3").load())
    per_key = {r.key: (r.n_pages, r.n_rows) for r in
               df.groupBy("key").agg((F.max("page") + 1).alias("n_pages"),
                                     F.count("*").alias("n_rows")).collect()}
    for key, (n_pages, n_rows) in per_key.items():
        expect_pages = key % 3 + 1
        expect_rows = (expect_pages - 1) * rest.PAGE_SIZE + (key % 7 + 1) * 10
        assert n_pages == expect_pages, key
        assert n_rows == expect_rows, key
    assert df.rdd.getNumPartitions() == 3      # key-range partitioning


def test_paginated_source_retries_transient_errors(spark):
    """E1: a transient 429 inside the reader retries with backoff instead
    of failing the task — flaky run returns the same rows as clean run."""
    rest.register(spark)
    clean = (spark.read.format("paginated_rest")
             .option("nkeys", "6").option("numpartitions", "2").load())
    flaky = (spark.read.format("paginated_rest")
             .option("nkeys", "6").option("numpartitions", "2")
             .option("flaky", "true").load())
    assert sorted(map(tuple, flaky.collect())) == sorted(map(tuple, clean.collect()))


def test_streaming_matches_batch(spark, sf_dir):
    """availableNow drain of the events stream must equal the batch
    tumbling-window aggregate (same code path, SURVEY ST5)."""
    run_available_now(
        windowed_counts(read_events_stream(spark, sf_dir)), "t_stream_batch_eq")
    stream_out = spark.table("t_stream_batch_eq")
    e = table(spark, sf_dir, "events")
    batch = (e.groupBy(F.window("ts", "1 day").alias("w"))
             .agg(F.count("*").alias("cnt"), F.round(F.sum("value"), 3).alias("total"))
             .select(F.col("w.start").alias("day"), "cnt", "total"))
    assert {tuple(r) for r in stream_out.collect()} == {tuple(r) for r in batch.collect()}


@pytest.mark.parametrize("builder,want", [
    ("stream_scd2_ivm", 16),            # applyInPandasWithState
    ("stream_drift_ivm", 8),            # built-in aggregate
    ("stream_shard_manifest_ivm", 8),   # built-in aggregate
    ("stream_static_enrich", 8),        # stateless projection
])
def test_drain_sizing_follows_plan(spark, sf_dir, monkeypatch, builder,
                                   want):
    """Each builder's drained frame gets its state-store count from its
    own plan: Python state caps at 16, JVM or no state at 8 — read at a
    parallelism of 32 so both caps bind."""
    from pyspark import SparkContext

    from zoom_etl_spark.streaming.ingest import replay_state_partitions
    from zoom_etl_spark.suite import sources_streaming

    class Drained(Exception):
        pass

    def capture(result, *args, **kwargs):
        raise Drained(replay_state_partitions(result))

    monkeypatch.setattr(SparkContext, "defaultParallelism",
                        property(lambda self: 32))
    monkeypatch.setattr(sources_streaming, "run_available_now", capture)
    with pytest.raises(Drained) as got:
        getattr(sources_streaming, builder)(spark, sf_dir)
    assert got.value.args[0] == want


def test_multimodal_decode_fake_and_stub(spark, sf_dir):
    d = table(spark, sf_dir, "documents").limit(20)
    media = attach_fake_media(d, "doc_id", "text")
    feats = decode_media(media, fake=True)
    rows = feats.collect()
    assert len(rows) == 20
    assert all(r.kind == "text/fake" and r.n_bytes > 0 for r in rows)
    # deterministic: same input → same checksum
    again = {r.doc_id: r.checksum for r in decode_media(media, fake=True).collect()}
    assert {r.doc_id: r.checksum for r in rows} == again
    with pytest.raises(NotImplementedError):
        decode_media(media, fake=False)


def test_multimodal_frame_sampling_one_to_many(spark, sf_dir):
    d = table(spark, sf_dir, "documents").limit(10)
    media = attach_fake_media(d, "doc_id", "text")
    frames = sample_frames(media, every_n_bytes=16, max_frames=4)
    rows = frames.collect()
    assert len(rows) > 10                      # output exceeds input rows
    per_doc = {}
    for r in rows:
        per_doc.setdefault(r.doc_id, []).append(r.frame_no)
    assert all(sorted(v) == list(range(len(v))) for v in per_doc.values())
    # fake=False is a REAL decode since round 7 — but only for RIFF/WAV
    # blobs; these text-byte blobs raise inside the executor
    # (tests/test_multimodal_wav.py covers the real path end to end)
    with pytest.raises(Exception, match="NotImplementedError|RIFF|WAV"):
        sample_frames(media, fake=False).collect()


def test_stream_left_join_converges_to_batch_under_watermark_gate(spark, sf_dir):
    """Drained left-outer stream-stream join == batch left join, with the
    null side gated by the final watermark: a null row may emit only once
    the watermark proves no match can arrive (signup_ts + 1h ≤ wm), and
    every provably-final unmatched signup MUST have emitted."""
    from zoom_etl_spark.suite.sources_streaming import stream_stream_left_join

    out = stream_stream_left_join(spark, sf_dir)
    matched = {tuple(r) for r in out.filter(F.col("error_id").isNotNull()).collect()}
    nulls = {r.signup_id for r in out.filter(F.col("error_id").isNull()).collect()}

    e = table(spark, sf_dir, "events")
    s = (e.filter(F.col("event_type") == "signup")
         .select("user_id", F.col("event_id").alias("signup_id"),
                 F.col("ts").alias("signup_ts")))
    x = (e.filter(F.col("event_type") == "error")
         .select(F.col("user_id").alias("e_user_id"),
                 F.col("event_id").alias("error_id"),
                 F.col("ts").alias("error_ts"),
                 F.col("value").alias("error_value")))
    batch = s.join(x, F.expr(
        "user_id = e_user_id AND error_ts >= signup_ts "
        "AND error_ts < signup_ts + INTERVAL 1 HOUR"), "left").drop("e_user_id")

    # matched rows emit eagerly: exact equality with the batch inner part
    batch_matched = {tuple(r) for r in
                     batch.filter(F.col("error_id").isNotNull()).collect()}
    assert matched == batch_matched

    # final global watermark = min of both sides' (max event time − delay)
    max_s = s.agg(F.max("signup_ts")).first()[0]
    max_x = x.agg(F.max("error_ts")).first()[0]
    wm = min(max_s, max_x) - __import__("datetime").timedelta(hours=1)

    unmatched = batch.filter(F.col("error_id").isNull()).select(
        "signup_id", "signup_ts").collect()
    hour = __import__("datetime").timedelta(hours=1)
    must_emit = {r.signup_id for r in unmatched if r.signup_ts + hour < wm}
    may_emit = {r.signup_id for r in unmatched if r.signup_ts + hour <= wm}
    assert must_emit <= nulls <= may_emit, (
        f"missing={must_emit - nulls} extra={nulls - may_emit}")
    assert nulls  # the gate actually drained something


def test_stream_dedup_collapses_redelivery(spark, sf_dir):
    """dropDuplicatesWithinWatermark must emit each event once even when a
    later micro-batch redelivers the whole source (at-least-once file/Kafka
    semantics): in-horizon redeliveries hit the seen-id state, older ones
    fall below the watermark as late data."""
    import tempfile

    from pyspark.sql import functions as F

    from zoom_etl_spark.catalog import table
    from zoom_etl_spark.streaming.ingest import EVENTS_SCHEMA

    e = table(spark, sf_dir, "events")
    raw = e.withColumn("ts", F.unix_micros("ts") * 1000)  # nanos-long layout
    srcdir = tempfile.mkdtemp(prefix="zes_redeliver_")
    raw.coalesce(1).write.mode("overwrite").parquet(f"{srcdir}/f1")
    raw.coalesce(1).write.mode("overwrite").parquet(f"{srcdir}/f2")  # redelivery
    stream = (spark.readStream.schema(EVENTS_SCHEMA)
              .option("maxFilesPerTrigger", "1")
              .option("recursiveFileLookup", "true").parquet(srcdir)
              .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000"))))
    deduped = (stream.withWatermark("ts", "1 hour")
               .dropDuplicatesWithinWatermark(["event_id"]))
    q = (deduped.writeStream.format("memory").queryName("t_dedup_redeliver")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    out = spark.table("t_dedup_redeliver")
    assert out.count() == e.count()
    assert out.select("event_id").distinct().count() == e.count()


def test_resize_media_fixed_raster(spark, sf_dir):
    """resize_media: every output blob is exactly width×height bytes
    (fixed memory per row — the property batching depends on), dims
    recorded, deterministic across runs."""
    from zoom_etl_spark.sources.multimodal import (attach_fake_media,
                                                   resize_media)
    d = table(spark, sf_dir, "documents").limit(50)
    r = resize_media(attach_fake_media(d, "doc_id", "text"), 8, 8)
    rows = r.collect()
    assert len(rows) == 50
    assert all(len(x.media) == 64 and x.width == 8 and x.height == 8
               for x in rows)
    again = {x.doc_id: bytes(x.media) for x in r.collect()}
    assert {x.doc_id: bytes(x.media) for x in rows} == again


def test_media_embedding_normalized_and_deterministic(spark, sf_dir):
    """media_embedding: unit-norm vectors of the declared dim; identical
    blobs embed identically (the contract ANN stages rely on)."""
    import math

    from zoom_etl_spark.sources.multimodal import (attach_fake_media,
                                                   media_embedding)
    d = table(spark, sf_dir, "documents").limit(20)
    e = media_embedding(attach_fake_media(d, "doc_id", "text"), dim=16)
    rows = e.collect()
    assert all(len(x.embedding) == 16 for x in rows)
    assert all(abs(math.fsum(v * v for v in x.embedding) - 1.0) < 1e-9
               for x in rows)
    dup = {x.doc_id: tuple(x.embedding) for x in e.collect()}
    assert {x.doc_id: tuple(x.embedding) for x in rows} == dup


def test_db_parallel_read_exactly_once(spark, tmp_path):
    """Every row must arrive EXACTLY once across strides — including
    rows below lower and at/above upper (open-ended edge strides) —
    and a stride count exceeding the key range must still work."""
    import duckdb

    from zoom_etl_spark.sources.dbread import read_db_partitioned

    db = str(tmp_path / "t.duckdb")
    con = duckdb.connect(db)
    con.execute("CREATE TABLE t AS SELECT range AS k, range * 10 AS v "
                "FROM range(-5, 105)")  # keys -5..104
    con.close()
    # bounds [0, 100) deliberately miss the negative and >=100 tails
    df = read_db_partitioned(spark, db, "t", "k", 0, 100, 7)
    got = sorted(r.k for r in df.collect())
    assert got == list(range(-5, 105))          # no loss, no duplicates
    # more partitions than keys: stride clamps to 1, still exact
    df2 = read_db_partitioned(spark, db, "t", "k", 0, 4, 9,
                              predicate="k >= 0 AND k < 4")
    assert sorted(r.k for r in df2.collect()) == [0, 1, 2, 3]


def test_stream_metrics_capture_watermark_drops(spark, sf_dir, tmp_path):
    """The StreamMetrics listener must surface the silent-data-loss
    signal: a batch of events older than the advanced watermark is
    discarded by the watermarked window, and fully_late_batches()
    flags it (plus per-batch input-row progress)."""
    import os
    import time

    from zoom_etl_spark.streaming.ingest import EVENTS_SCHEMA
    from zoom_etl_spark.streaming.monitor import watched

    e = table(spark, sf_dir, "events")
    raw = e.withColumn("ts", F.unix_micros("ts") * 1000)
    srcdir = str(tmp_path / "src")
    cut = "2024-01-20"
    (raw.filter(F.col("ts") >= F.unix_micros(F.lit(cut).cast("timestamp")) * 1000)
        .coalesce(1).write.mode("overwrite").parquet(f"{srcdir}/f1_new"))
    (raw.filter(F.col("ts") < F.unix_micros(F.lit(cut).cast("timestamp")) * 1000)
        .coalesce(1).write.mode("overwrite").parquet(f"{srcdir}/f2_old"))
    now = time.time()
    for sub, age in (("f1_new", 400), ("f2_old", 100)):  # f1 older mtime → first
        for root, _, files in os.walk(f"{srcdir}/{sub}"):
            for fn in files:
                os.utime(os.path.join(root, fn), (now - age, now - age))
    stream = (spark.readStream.schema(EVENTS_SCHEMA)
              .option("maxFilesPerTrigger", "1")
              .option("recursiveFileLookup", "true").parquet(srcdir)
              .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000"))))
    agg = (stream.withWatermark("ts", "1 hour")
           .groupBy(F.window("ts", "1 hour")).count())
    with watched(spark) as m:
        q = (agg.writeStream.format("memory").queryName("t_metrics_wm")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()
        deadline = time.time() + 15  # listener events arrive async
        while time.time() < deadline:
            if m.fully_late_batches("t_metrics_wm"):
                break
            time.sleep(0.5)
    batches = m.snapshot("t_metrics_wm")
    assert sum(b["num_input_rows"] for b in batches) > 0
    # the replayed-old-file batch arrives entirely behind the watermark —
    # the silent-loss signature the monitor exists to surface
    assert m.fully_late_batches("t_metrics_wm"), batches
    # aggregations pre-filter late rows before state, so the state-
    # operator drop counter stays 0 here (documented monitor caveat)
    assert m.dropped_by_watermark("t_metrics_wm") == 0


def test_state_rows_plateau_at_keyspace(spark, sf_dir):
    """For the keyspace-bounded top-k IVM, per-batch state rows must
    equal the state keyspace (one row per (event_type, user_id) pair)
    and never grow past it — the monitor's leak check on a healthy
    operator."""
    import time

    from zoom_etl_spark.streaming.ingest import run_available_now
    from zoom_etl_spark.streaming.monitor import state_rows, watched
    from zoom_etl_spark.streaming.stateful import topk_maintain

    from zoom_etl_spark.streaming.ingest import read_events_stream
    n_pairs = table(spark, sf_dir, "events") \
        .select("event_type", "user_id").distinct().count()
    with watched(spark) as m:
        out = topk_maintain(read_events_stream(spark, sf_dir))
        run_available_now(out, "t_state_rows", output_mode="update")
        deadline = time.time() + 15
        while time.time() < deadline and not state_rows(m, "t_state_rows"):
            time.sleep(0.5)
    rows = state_rows(m, "t_state_rows")
    assert rows, "no progress captured"
    assert max(rows) == n_pairs, (rows, n_pairs)


def test_shard_manifest_ivm_converges_and_localizes_membership(
        spark, sf_dir):
    """Drives the REAL streaming query: its converged manifest must
    equal the batch manifest computed directly (same shared
    shard_key_cols keying — catches a broken max_by finalize or drain),
    and the xor checksum must pin membership: excluding one event from
    the batch statistic changes exactly the victim's shard row."""
    from pyspark.sql import functions as F

    from zoom_etl_spark.catalog import table
    from zoom_etl_spark.registry import queries
    from zoom_etl_spark.suite.curation import shard_key_cols

    def batch_manifest(df):
        shard, hv = shard_key_cols(F.col("event_id"))
        keyed = df.select(
            shard.alias("shard"),
            F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias("cents"),
            hv.alias("hv"))
        return {r.shard: (r.n_events, r.cents, r.checksum) for r in
                keyed.groupBy("shard")
                .agg(F.count("*").alias("n_events"),
                     F.sum("cents").alias("cents"),
                     F.bit_xor("hv").alias("checksum")).collect()}

    e = table(spark, sf_dir, "events")
    full = batch_manifest(e)
    streamed = {r.shard: (r.n_events, r.cents, r.checksum) for r in
                queries()["stream_shard_manifest_ivm"](spark, sf_dir)
                .collect()}
    assert streamed == full
    cut = batch_manifest(e.filter(F.col("event_id") != 17))
    changed = [s for s in full if full[s] != cut.get(s)]
    assert len(changed) == 1
    s = changed[0]
    assert full[s][0] - cut[s][0] == 1
    assert full[s][2] != cut[s][2]
