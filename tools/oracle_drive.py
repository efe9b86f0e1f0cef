#!/usr/bin/env python
"""Full-contract oracle drive at an arbitrary SF — the tool behind the
three-SF correctness matrix (the driver's sf0.01 gate; the retired
ledgers are `git show 5f063be:CORRECTNESS_SF0001_r06.json` and
`git show 5f063be:CORRECTNESS_SF01_r06.json`).

Runs every registered query on a fresh driver-style session (plain
``SparkSession.builder`` + the engine's ``configure()`` path, launched
from the repo root so Python workers resolve the package) and compares
each against its DuckDB oracle, appending one JSON line per query so a
killed run resumes for free.

Hard-won harness specifics (round 6):
  * driver memory 16g — streaming drains at sf0.1 GC-stall a default
    heap and look hung;
  * a ``con.interrupt()`` watchdog (default 240 s) — a scale-bound
    ORACLE (deep recursive CTE) is indistinguishable from a hung Spark
    query without it; the interrupt surfaces it as a recorded
    exception instead of wedging the drive.

Usage:
  python tools/oracle_drive.py --sf /root/testdata/sf0.1 \
      --out /tmp/drive.jsonl [--only q1,q2] [--resume]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests"))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default="/tmp/oracle_drive.jsonl")
    ap.add_argument("--only", default="",
                    help="comma-separated query names (default: all)")
    ap.add_argument("--resume", action="store_true",
                    help="skip queries already recorded in --out")
    ap.add_argument("--oracle-timeout", type=float, default=240.0)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    import __spark_entry__ as entrymod
    from oracle_harness import compare, duck_connection

    # resume skips only queries that COMPLETED (ok or rows-only); a
    # recorded failure re-runs — otherwise a resumed drive would exit 0
    # over a file that contains a real mismatch
    done: set[str] = set()
    if args.resume and os.path.exists(args.out):
        done = {r["q"] for r in map(json.loads, open(args.out))
                if r["ok"] is not False}

    spark = (SparkSession.builder.master(
                 f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
             .config("spark.sql.shuffle.partitions", "32")
             .config("spark.driver.memory", "16g")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false").getOrCreate())
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    names = args.only.split(",") if args.only else sorted(qs)
    con = duck_connection(args.sf)
    out = open(args.out, "a" if args.resume else "w")
    for name in names:
        if name in done:
            continue
        t0 = time.time()
        try:
            d = qs[name](spark, args.sf)
            if name in oracles:
                # materialize the Spark side BEFORE arming the oracle
                # watchdog: compare() collects Spark first, so a slow
                # Spark phase would otherwise eat the DuckDB budget
                # (no-op interrupt) or trip it on a healthy oracle
                d = d.localCheckpoint(eager=True)
                # Timer.cancel() cannot stop a callback already past
                # its wait, and a late con.interrupt() on the SHARED
                # connection would spuriously cancel the NEXT query's
                # healthy oracle (ADVICE r06). The lock makes the
                # check-then-interrupt atomic against the done flag;
                # if the callback DID interrupt (fired), a throwaway
                # SELECT absorbs the stale interrupt before the next
                # query touches the connection.
                lock = threading.Lock()
                done_flag = threading.Event()
                fired = threading.Event()

                def _interrupt_if_running() -> None:
                    with lock:
                        if done_flag.is_set():
                            return
                        fired.set()
                        con.interrupt()

                w = threading.Timer(args.oracle_timeout,
                                    _interrupt_if_running)
                w.start()
                try:
                    r = compare(d, con, oracles[name])
                finally:
                    with lock:
                        done_flag.set()
                    w.cancel()
                    if fired.is_set():
                        try:
                            con.execute("SELECT 1").fetchall()
                        except Exception:  # noqa: BLE001 — stale interrupt
                            pass
                rec = {"q": name, "ok": bool(r["ok"]),
                       "rows": r.get("spark_rows"),
                       "detail": r["detail"][:200],
                       "sec": round(time.time() - t0, 2)}
            else:
                rec = {"q": name, "ok": None, "rows": d.count(),
                       "sec": round(time.time() - t0, 2)}
        except Exception as e:  # noqa: BLE001 — recorded, not swallowed
            rec = {"q": name, "ok": False, "err": repr(e)[:300],
                   "sec": round(time.time() - t0, 2)}
        out.write(json.dumps(rec) + "\n")
        out.flush()
    out.close()
    # final tally re-reads the whole file so the summary and exit code
    # reflect every recorded line (including prior runs under --resume),
    # not just this process's slice
    final = {}
    for r in map(json.loads, open(args.out)):
        final[r["q"]] = r  # last record per query wins (failures re-run)
    n_ok = sum(1 for r in final.values() if r["ok"] is True)
    n_bad = sum(1 for r in final.values() if r["ok"] is False)
    print(json.dumps({"metric": "oracle_drive", "sf": args.sf,
                      "n": len(final), "value_exact": n_ok,
                      "failed": n_bad, "out": args.out}))
    sys.exit(1 if n_bad else 0)


if __name__ == "__main__":
    main()
