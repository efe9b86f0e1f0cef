"""Alert-routing rules over recorded streaming health facts.

Rules are pure functions of the batch log, so most tests replay a
synthetic history through ``StreamMetrics.feed`` (the offline-testable
path the module promises); one integration test drives a real
watermarked stream and checks the critical route fires end to end.
"""

from __future__ import annotations

import time

import pyspark.sql.functions as F

from zoom_etl_spark.streaming.monitor import (
    AlertRouter, StreamMetrics, state_bytes, watched,
)


def _rec(batch_id, rows=10, wm=None, emax="2024-01-02T00:00:00.000Z",
         state=None):
    # watermark advances with the batch by default — a healthy stream
    if wm is None:
        wm = f"2024-01-01T00:00:{batch_id:02d}.000Z"
    return {"batch_id": batch_id, "num_input_rows": rows,
            "watermark": wm, "event_max": emax,
            "state": state if state is not None else
            [{"operator": "agg", "rows_total": 5, "rows_updated": 1,
              "rows_dropped_by_watermark": 0, "memory_used_bytes": 100}]}


def test_fully_late_batch_routes_critical():
    m = StreamMetrics()
    m.feed("q", _rec(0))
    # batch 1: every event older than the watermark
    m.feed("q", _rec(1, wm="2024-01-03T00:00:00.000Z",
                     emax="2024-01-02T00:00:00.000Z"))
    fired = []
    r = AlertRouter(m).route_to("critical", fired.append)
    alerts = r.evaluate("q")
    assert [a.rule for a in alerts] == ["fully_late_batch"]
    assert fired and fired[0].batch_id == 1
    # idempotent re-sweep: same history, no duplicate delivery
    r.evaluate("q")
    assert len(fired) == 1


def test_state_growth_fires_only_on_sustained_rise():
    m = StreamMetrics()
    plateau = [{"operator": "agg", "rows_total": n, "rows_updated": 0,
                "rows_dropped_by_watermark": 0, "memory_used_bytes": n}
               for n in (3, 5, 5, 5, 5)]
    for i, st in enumerate(plateau):
        m.feed("healthy", _rec(i, state=[st]))
    assert AlertRouter(m).evaluate("healthy") == []

    leaking = [3, 5, 8, 12]
    for i, n in enumerate(leaking):
        m.feed("leaky", _rec(i, state=[{
            "operator": "agg", "rows_total": n, "rows_updated": 0,
            "rows_dropped_by_watermark": 0, "memory_used_bytes": 10 * n}]))
    alerts = AlertRouter(m).evaluate("leaky")
    assert [a.rule for a in alerts] == ["state_growth"]
    assert "3→12" in alerts[0].detail


def test_watermark_stall_needs_input_and_state():
    m = StreamMetrics()
    wm = "2024-01-01T00:00:00.000Z"
    for i in range(3):
        m.feed("stalled", _rec(i, rows=7, wm=wm, emax=wm))
    alerts = AlertRouter(m).evaluate("stalled")
    assert "watermark_stalled" in [a.rule for a in alerts]
    # no input → no stall alert (an idle stream is not unhealthy)
    for i in range(3):
        m.feed("idle", _rec(i, rows=0, wm=wm, emax=wm))
    assert AlertRouter(m).evaluate("idle") == []
    # stateless query (no state operators) → watermark isn't its problem
    for i in range(3):
        m.feed("stateless", _rec(i, rows=7, wm=wm, emax=wm, state=[]))
    assert AlertRouter(m).evaluate("stateless") == []


def test_severity_routing_separates_sinks():
    m = StreamMetrics()
    m.feed("q", _rec(0))
    m.feed("q", _rec(1, wm="2024-01-03T00:00:00.000Z",
                     emax="2024-01-02T00:00:00.000Z"))
    for i, n in enumerate((3, 5, 8, 12)):
        m.feed("q", _rec(2 + i, state=[{
            "operator": "agg", "rows_total": n, "rows_updated": 0,
            "rows_dropped_by_watermark": 0, "memory_used_bytes": n}]))
    crit, warn = [], []
    r = (AlertRouter(m).route_to("critical", crit.append)
                       .route_to("warning", warn.append))
    r.evaluate("q")
    assert [a.rule for a in crit] == ["fully_late_batch"]
    assert [a.rule for a in warn] == ["state_growth"]


def test_state_bytes_tracks_memory():
    m = StreamMetrics()
    for i, b in enumerate((100, 250, 250)):
        m.feed("q", _rec(i, state=[{
            "operator": "agg", "rows_total": 5, "rows_updated": 0,
            "rows_dropped_by_watermark": 0, "memory_used_bytes": b}]))
    assert state_bytes(m, "q") == [100, 250, 250]


def test_progress_record_matches_listener_shape():
    """``progress_record`` (the synchronous recentProgress path the
    alert_route drain uses instead of polling the async listener bus)
    must produce exactly the record shape ``StreamMetrics`` builds from
    listener-event JSON — same keys, same camelCase source fields — so
    rules evaluated over either history agree."""
    from zoom_etl_spark.streaming.monitor import progress_record

    raw = {
        "batchId": 1, "numInputRows": 42,
        "eventTime": {"watermark": "2024-01-21T01:02:03.000Z",
                      "max": "2024-01-19T00:00:00.000Z",
                      "min": "2024-01-01T00:00:00.000Z"},
        "stateOperators": [{"operatorName": "stateStoreSave",
                            "numRowsTotal": 7, "numRowsUpdated": 2,
                            "numRowsDroppedByWatermark": 42,
                            "memoryUsedBytes": 1024}],
    }
    rec = progress_record(raw)
    assert rec == {
        "batch_id": 1, "num_input_rows": 42,
        "watermark": "2024-01-21T01:02:03.000Z",
        "event_max": "2024-01-19T00:00:00.000Z",
        "event_min": "2024-01-01T00:00:00.000Z",
        "state": [{"operator": "stateStoreSave", "rows_total": 7,
                   "rows_updated": 2, "rows_dropped_by_watermark": 42,
                   "memory_used_bytes": 1024}],
    }
    # fed into StreamMetrics, the fully-late rule fires on it (event
    # max behind watermark) exactly as with a listener-built record
    m = StreamMetrics()
    m.feed("q", progress_record({"batchId": 0, "numInputRows": 5,
                                 "eventTime": {
                                     "watermark": "2024-01-01T00:00:00.000Z",
                                     "max": "2024-01-02T00:00:00.000Z"}}))
    m.feed("q", rec)
    assert m.fully_late_batches("q") == [1]
    # a no-data finalize batch (empty eventTime) parses and never fires
    empty = progress_record({"batchId": 2, "numInputRows": 0,
                             "eventTime": {}})
    m.feed("q", empty)
    assert m.fully_late_batches("q") == [1]


def test_live_stream_reports_state_memory(spark, sf_dir):
    """End to end: a real watermarked aggregation drain reports nonzero
    state-store memory through the listener — the SIZE leak signal is
    actually wired, not just parsed."""
    from zoom_etl_spark.streaming.ingest import (
        read_events_stream, run_available_now,
    )

    stream = read_events_stream(spark, sf_dir)
    agg = (stream.withWatermark("ts", "1 hour")
                 .groupBy(F.window("ts", "24 hours")).count())
    with watched(spark) as m:
        run_available_now(agg, "t_alert_mem", output_mode="update")
        deadline = time.time() + 15
        while time.time() < deadline and not any(state_bytes(m, "t_alert_mem")):
            time.sleep(0.5)
    assert any(b > 0 for b in state_bytes(m, "t_alert_mem"))
    # healthy single-drain history: no critical alerts
    r = AlertRouter(m)
    assert all(a.severity != "critical" for a in r.evaluate("t_alert_mem"))


def test_stream_alert_route_query_is_deterministic(spark, sf_dir):
    """The registered contract query must fire EXACTLY the one critical
    fully_late_batch alert for the replayed-stale-file batch — no
    warning noise, stable across runs. Oracle-gated in the driver
    since round 9 (alert-ledger restatement); this double-run gate
    stays as the determinism check the oracle alone can't express,
    and it exercises the in-query router cross-check twice."""
    from zoom_etl_spark.registry import all_queries

    fn = all_queries()["stream_alert_route"].fn
    rows = sorted((r.rule, r.severity, r.batch_id)
                  for r in fn(spark, sf_dir).collect())
    assert rows == [("fully_late_batch", "critical", 1)]
    # and a second run sees the same thing (fresh temp dirs each call)
    rows2 = sorted((r.rule, r.severity, r.batch_id)
                   for r in fn(spark, sf_dir).collect())
    assert rows2 == rows
