#!/usr/bin/env python
"""Streaming weak-scaling study (SCALING_r0N.json): the three streaming
IVM rows at 10x/30x/100x, min-of-N runs, each FACTOR in its own fresh
process/session. The round-8 methodology fix: round 7 measured these
inside long multi-query sessions and read stream_windowed_agg_ivm at
15.4x wall for 10x rows; tools/stream_scaling_profile.py then showed
the same query at 10.43x solo (within 4.3% of linear) with the excess
attributed to in-session contention + accumulated driver heap. This
study therefore isolates each factor in a dedicated JVM (16g heap —
the 100x drains GC-stall on 4g) and folds the per-cell MIN across
runs, with output-row counts as the structural linearity proof.

Usage:
  python tools/stream_scaling_study.py [--runs 2] \
      [--out SCALING_r08.json]
Child mode (internal): --factor-dir <dir> --runs N  -> one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

QUERIES = ("stream_shard_manifest_ivm", "stream_windowed_agg_ivm",
           "stream_cusum_ivm")
FACTORS = {10: "/tmp/zes_sf1", 30: "/tmp/zes_x30", 100: "/tmp/zes_x100"}


def child(factor_dir: str, runs: int) -> None:
    from zoom_etl_spark.registry import all_queries
    from zoom_etl_spark.session import get_spark

    spark = get_spark("stream-scaling-study", cpus="32",
                      shuffle_partitions=64)
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()
    out = {"secs": {}, "rows": {}}
    for name in QUERIES:
        secs = []
        for _ in range(runs):
            t0 = time.time()
            df = qs[name].fn(spark, factor_dir)
            n = df.count()
            secs.append(round(time.time() - t0, 2))
            out["rows"][name] = n
            spark.catalog.clearCache()
            for view in spark.catalog.listTables():
                if view.isTemporary:
                    spark.catalog.dropTempView(view.name)
        out["secs"][name] = secs
    print("STUDY_RESULT " + json.dumps(out), flush=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--out", default="SCALING_r08.json")
    ap.add_argument("--factor-dir")
    args = ap.parse_args()
    if args.factor_dir:
        child(args.factor_dir, args.runs)
        return

    all_runs: dict = {}
    rows: dict = {}
    for factor, path in FACTORS.items():
        if not os.path.exists(path):
            print(f"skip {factor}x: no replica at {path}", file=sys.stderr)
            continue
        env = dict(os.environ, SPARK_DRIVER_MEMORY="16g")
        r = subprocess.run(
            [sys.executable, os.path.abspath(__file__),
             "--factor-dir", path, "--runs", str(args.runs)],
            capture_output=True, text=True, env=env, cwd=REPO,
            timeout=3600)
        line = next(ln for ln in r.stdout.splitlines()
                    if ln.startswith("STUDY_RESULT "))
        got = json.loads(line[len("STUDY_RESULT "):])
        all_runs[f"{factor}x"] = got["secs"]
        rows[f"{factor}x"] = got["rows"]

    min_sec = {fx: {q: min(v) for q, v in d.items()}
               for fx, d in all_runs.items()}
    out = {
        "metric": "weak_scaling_streaming_min_of_runs",
        "unit": "sec",
        "copies": sorted(int(fx[:-1]) for fx in all_runs),
        "note": ("Round-8 methodology: each factor in a DEDICATED fresh "
                 "16g-heap session (round 7 measured inside busy "
                 "multi-query sessions; the per-phase profiler — "
                 "STREAM_PROFILE_r08.json — showed windowed_agg at "
                 "10.43x solo vs 15.4x in-session for 10.0x rows, with "
                 "GC on the driver-side memory-sink harness the only "
                 "superlinear term). Per-cell MIN across runs; output "
                 "rows are the structural linearity proof."),
        "all_runs_sec": all_runs,
        "min_sec": min_sec,
        "output_rows": rows,
    }
    base = min_sec.get("10x", {})
    for fx in ("30x", "100x"):
        if fx in min_sec:
            out[f"ratio_{fx}_over_10x"] = {
                q: round(min_sec[fx][q] / base[q], 2)
                for q in min_sec[fx] if base.get(q)}
    with open(args.out, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    print(json.dumps({k: out[k] for k in
                      ("metric", "min_sec") if k in out}
                     | {k: out[k] for k in out if k.startswith("ratio")}))


if __name__ == "__main__":
    main()
