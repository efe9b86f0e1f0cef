#!/usr/bin/env python
"""Per-phase attribution of the 100x streaming wall superlinearity
(round-7 verdict item 4): SCALING_r07.json shows
stream_windowed_agg_ivm at 4.84 s (10x) -> 74.54 s (100x) min-of-runs
— 15.4x wall for exactly-10x rows (outputs proven linear) — with the
excess attributed to "single-JVM GC/micro-batch overhead" but never
measured. This tool measures it.

For each factor it runs the REGISTERED query against the existing
scale-smoke replica (/tmp/zes_sf1, /tmp/zes_x100 — built by
scale_smoke.py) with:
  * a listener capturing every micro-batch's full progress JSON —
    batch count, numInputRows, durationMs breakdown (addBatch =
    execution, getBatch/latestOffset = source listing, walCommit/
    commitOffsets = checkpoint bookkeeping, queryPlanning), state
    operator times (allUpdatesTimeMs, commitTimeMs) and sizes;
  * JVM-wide GC collection-time deltas (ManagementFactory beans)
    bracketing the drain;
  * wall split into drain (run_available_now) vs finalize (the batch
    groupBy over the drained log) vs total.

Writes STREAM_PROFILE_r0N.json with per-factor attribution and the
linearity verdict: which phase carries the above-linear excess.

Usage:  SPARK_DRIVER_MEMORY=16g python tools/stream_scaling_profile.py \
            [--query stream_windowed_agg_ivm] [--runs 2] \
            [--out STREAM_PROFILE_r08.json] [--sink memory|file]

--sink file (round-8 verdict item 2): the r08 memory-sink profile
attributed the only superlinear term to driver GC from the in-JVM
memory-sink drain (9.56 M update-mode rows accumulate in driver
memory) and ARGUED that a real cluster sink shards it away. This mode
MEASURES it: the identical streaming aggregation (same watermark,
window, state sizing — the plan is restated here line-for-line from
suite/sources_streaming.py::stream_windowed_agg_ivm because the
registered builder pins its memory sink) drains through foreachBatch
into parquet — update-mode emissions land in executor-written files,
nothing accumulates on the driver — and finalize reads the parquet
log back for the same max_by convergence aggregate. Only
stream_windowed_agg_ivm is supported (the query the r07/r08 studies
profiled).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

FACTORS = {10: "/tmp/zes_sf1", 100: "/tmp/zes_x100"}


class _ProgressTap:
    """StreamingQueryListener capturing raw progress JSON per query."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        tap = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):  # noqa: N802
                pass

            def onQueryProgress(self, event):  # noqa: N802
                try:
                    tap.batches.append(json.loads(event.progress.json))
                except Exception:  # noqa: BLE001 — profiling only
                    pass

            def onQueryTerminated(self, event):  # noqa: N802
                pass

            def onQueryIdle(self, event):  # noqa: N802
                pass

        self.batches: list[dict] = []
        self.listener = _L()


def _gc_ms(spark) -> int:
    beans = (spark._jvm.java.lang.management.ManagementFactory
             .getGarbageCollectorMXBeans())
    return sum(b.getCollectionTime() for b in beans)


def profile_once(spark, name: str, sf_dir: str) -> dict:
    from zoom_etl_spark.registry import all_queries

    tap = _ProgressTap()
    spark.streams.addListener(tap.listener)
    gc0, t0 = _gc_ms(spark), time.time()
    df = all_queries()[name].fn(spark, sf_dir)  # drains inside
    t_drain = time.time()
    n_out = df.count()  # finalize: batch aggregate over the drained log
    t1, gc1 = time.time(), _gc_ms(spark)
    spark.streams.removeListener(tap.listener)
    return _summarize(tap.batches, t0, t_drain, t1, gc1 - gc0, n_out)


def _summarize(batches: list[dict], t0: float, t_drain: float, t1: float,
               gc_delta_ms: int, n_out: int) -> dict:
    dur_keys = ("addBatch", "getBatch", "latestOffset", "queryPlanning",
                "walCommit", "commitOffsets", "triggerExecution")
    dur = {k: 0 for k in dur_keys}
    state = {"allUpdatesTimeMs": 0, "commitTimeMs": 0, "numRowsTotal": 0,
             "numRowsUpdated": 0, "memoryUsedBytes": 0}
    rows_in = rows_out_sink = 0
    for b in batches:
        for k in dur_keys:
            dur[k] += int((b.get("durationMs") or {}).get(k, 0))
        rows_in += int(b.get("numInputRows", 0))
        # foreachBatch sinks report numOutputRows = -1 (unknown): count
        # only real driver-side sink rows (the memory-sink signal)
        rows_out_sink += max(
            0, int((b.get("sink") or {}).get("numOutputRows", 0) or 0))
        for op in b.get("stateOperators", []) or []:
            state["allUpdatesTimeMs"] += int(op.get("allUpdatesTimeMs", 0))
            state["commitTimeMs"] += int(op.get("commitTimeMs", 0))
            state["numRowsUpdated"] += int(op.get("numRowsUpdated", 0))
            state["numRowsTotal"] = max(state["numRowsTotal"],
                                        int(op.get("numRowsTotal", 0)))
            state["memoryUsedBytes"] = max(state["memoryUsedBytes"],
                                           int(op.get("memoryUsedBytes", 0)))
    return {
        "wall_total_sec": round(t1 - t0, 2),
        "wall_drain_sec": round(t_drain - t0, 2),
        "wall_finalize_sec": round(t1 - t_drain, 2),
        "gc_ms": gc_delta_ms,
        "n_micro_batches": len(batches),
        "rows_in": rows_in,
        "rows_to_driver_sink": rows_out_sink,
        "n_final_rows": n_out,
        "duration_ms": dur,
        "state": state,
    }


def profile_once_filesink(spark, name: str, sf_dir: str) -> dict:
    """The file-sink twin of :func:`profile_once` (see module
    docstring): same plan, same state sizing, parquet sink via
    foreachBatch, finalize over the read-back log. Returns the same
    record shape so fold/attribution code is shared."""
    import shutil
    import tempfile

    import pyspark.sql.functions as F

    from zoom_etl_spark.streaming.ingest import (
        drain_checkpoint, read_events_stream, replay_state_partitions,
        state_partitions)

    if name != "stream_windowed_agg_ivm":
        raise SystemExit(f"--sink file supports only "
                         f"stream_windowed_agg_ivm, got {name!r}")
    outdir = tempfile.mkdtemp(prefix="zes_fsink_")
    tap = _ProgressTap()
    spark.streams.addListener(tap.listener)
    gc0, t0 = _gc_ms(spark), time.time()
    # plan restated from suite/sources_streaming.py::stream_windowed_
    # agg_ivm (the builder pins format("memory"); everything below the
    # sink is identical)
    stream = read_events_stream(spark, sf_dir)
    agg = (stream.withWatermark("ts", "1 hour")
           .groupBy(F.window("ts", "1 hour").alias("w"), F.col("user_id"))
           .agg(F.count("*").alias("cnt"),
                F.round(F.sum(F.col("value").cast("decimal(18,3)")), 3)
                .cast("double").alias("total")))
    out = agg.select("user_id", F.col("w.start").alias("h"), "cnt", "total")
    with state_partitions(spark, replay_state_partitions(out)), \
            drain_checkpoint("fsink_winagg") as ckpt:
        q = (out.writeStream
             .foreachBatch(lambda df, _bid:
                           df.write.mode("append").parquet(outdir))
             .option("checkpointLocation", ckpt)
             .outputMode("update").trigger(availableNow=True).start())
        q.awaitTermination()
    t_drain = time.time()
    log = spark.read.parquet(outdir)
    n_out = (log.groupBy("user_id", "h")
             .agg(F.max("cnt").alias("cnt"),
                  F.max_by("total", "cnt").alias("total"))).count()
    t1, gc1 = time.time(), _gc_ms(spark)
    spark.streams.removeListener(tap.listener)
    rec = _summarize(tap.batches, t0, t_drain, t1, gc1 - gc0, n_out)
    shutil.rmtree(outdir, ignore_errors=True)
    return rec


def fold_min(runs: list[dict]) -> dict:
    """Min-of-runs on the wall fields (contention filter), plus the run
    whose total wall is minimal for the structural fields."""
    best = min(runs, key=lambda r: r["wall_total_sec"])
    out = dict(best)
    for k in ("wall_total_sec", "wall_drain_sec", "wall_finalize_sec"):
        out[k] = min(r[k] for r in runs)
    out["n_runs"] = len(runs)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--query", default="stream_windowed_agg_ivm")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--out", default="STREAM_PROFILE_r08.json")
    ap.add_argument("--sink", choices=("memory", "file"), default="memory")
    args = ap.parse_args()

    os.environ.setdefault("SPARK_DRIVER_MEMORY", "16g")
    from zoom_etl_spark.session import get_spark
    spark = get_spark("stream-scaling-profile", cpus="32",
                      shuffle_partitions=64)
    spark.sparkContext.setLogLevel("ERROR")

    result: dict = {"metric": "stream_scaling_profile",
                    "query": args.query, "sink": args.sink, "factors": {}}
    one = profile_once if args.sink == "memory" else profile_once_filesink
    for factor, path in FACTORS.items():
        if not os.path.exists(os.path.join(path, "_copies.json")):
            print(f"skip {factor}x: no replica at {path} "
                  f"(run scale_smoke.py SMOKE_COPIES={factor})",
                  file=sys.stderr)
            continue
        runs = []
        for _ in range(args.runs):
            runs.append(one(spark, args.query, path))
            spark.catalog.clearCache()
        result["factors"][str(factor)] = fold_min(runs)

    f10 = result["factors"].get("10")
    f100 = result["factors"].get("100")
    if f10 and f100:
        ratio = round(f100["wall_total_sec"] / f10["wall_total_sec"], 2)
        result["wall_ratio_100_over_10"] = ratio
        result["rows_ratio"] = round(f100["rows_in"] / max(f10["rows_in"], 1),
                                     4)
        # attribution: how much of the 100x wall each phase explains
        result["attribution_100x_sec"] = {
            "execution_addBatch": round(
                f100["duration_ms"]["addBatch"] / 1000, 2),
            "source_listing": round(
                (f100["duration_ms"]["getBatch"]
                 + f100["duration_ms"]["latestOffset"]) / 1000, 2),
            "checkpoint_bookkeeping": round(
                (f100["duration_ms"]["walCommit"]
                 + f100["duration_ms"]["commitOffsets"]) / 1000, 2),
            "state_updates": round(
                f100["state"]["allUpdatesTimeMs"] / 1000, 2),
            "state_commit": round(f100["state"]["commitTimeMs"] / 1000, 2),
            "gc": round(f100["gc_ms"] / 1000, 2),
            "finalize_batch_agg": f100["wall_finalize_sec"],
        }
    with open(args.out, "w") as fh:
        json.dump(result, fh, indent=1, sort_keys=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
