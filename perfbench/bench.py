"""One benchmark run: one workload, one Spark process, one driver thread.

Started by ``perfbench/run.py`` (which gives the process its own
``TMPDIR``); see README.md for the metrics and why each workload exists.

A run

1. checks that its input is the benchmark's copy of the fixed test data
   (``testdata/sf<sf>/SHA256SUMS``); the tables are read in place;
2. sets up once, cold: JVM and session start, registry import and the
   flagship query (``setup_s``);
3. runs every workload query once, in a fixed order, compares its rows
   with the query's DuckDB oracle (``tests/oracle_harness.compare``) and
   reads the driver's live heap (``peak_live_heap_mb``); this pass also
   warms the JVM and is not timed;
4. runs timed passes over the workload, back to back (a closed loop with
   one client), in an order fixed by ``--seed``, until ``--seconds`` have
   passed. Each query is timed in three phases: the builder call,
   planning of the returned frame, and a ``noop`` write of it; then the
   driver's post-work (``clearCache``, stopping stray streams).

At least two untraced passes run. With ``--trace 1`` the timed passes
alternate between untraced and traced, at least two of each (one of
each once ``RUN_BUDGET_S`` has passed);
traced passes record spans (``spans.install``), Catalyst phase times and
status-store deltas, and give the per-layer metrics.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics, or the
per-layer ones with ``--trace 1``).
"""

from __future__ import annotations

import argparse
import hashlib
import importlib.util
import json
import math
import os
import random
import shutil
import statistics
import sys
import tempfile
import time
import traceback
import urllib.request

from perfbench import spans
from perfbench.workloads import WORKLOADS

# Copies of the fixed test data, one directory per scale factor.
TESTDATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "testdata")
# Once each kind of pass has run, stop starting passes this long after the
# start, so that a run of warehouse_reads (30 s passes) ends inside
# run.py's time limit. Runs of the driven workloads end well before it.
RUN_BUDGET_S = 120.0

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "query_geomean_s": "s",
    "peak_live_heap_mb": "MB",
}
PER_LAYER = {
    "catalog.reads": "count",
    "catalog.read_s": "s",
    "catalog.read_jobs": "count",
    "build.self_s": "s",
    "build.jobs": "count",
    "checkpoint.calls": "count",
    "checkpoint.jobs": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.input_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.slot_util": "frac",
    "stream.drains": "count",
    "stream.batches": "count",
    "stream.input_rows": "count",
    "stream.state_rows_max": "count",
    "stream.state_instances": "count",
    "sink.upsert_calls": "count",
    "txn.publish_calls": "count",
    "driver.post_s": "s",
    "trace.overhead_frac": "frac",
    "trace.unattributed_frac": "frac",
}
# Reported in the summary and the artifact but not in the JSON line: each
# is zero by construction on at least one workload (no streams, no
# checkpoints, no file output or no spill at this scale).
PER_LAYER_EXTRA = {
    "checkpoint.s": "s",
    "exec.gc_s": "s",
    "exec.output_mb": "MB",
    "exec.spill_mb": "MB",
    "stream.drain_s": "s",
    "stream.source_ms": "ms",
    "stream.plan_ms": "ms",
    "stream.add_batch_ms": "ms",
    "stream.commit_ms": "ms",
    "stream.state_update_ms": "ms",
    "stream.state_commit_ms": "ms",
    "stream.state_mem_mb_max": "MB",
    "sink.upsert_s": "s",
    "txn.publish_s": "s",
}
# End-to-end figures printed in the summary only: the streaming ones exist
# on webhook_ingest alone; failed_frac is 0 when the program is right; a
# run holds 6-10 query executions of 3-5 queries, so query_p50_s flips
# between two queries' latencies and query_p90_s is the slowest one or
# two executions; and peak_rss_mb follows the collector's heap sizing,
# which spreads it by 20-40% between runs.
SUMMARY_ONLY = {
    "query_p50_s": "s",
    "query_p90_s": "s",
    "peak_rss_mb": "MB",
    "batch_p50_ms": "ms",
    "batch_p90_ms": "ms",
    "stream_rows_per_s": "1/s",
    "failed_frac": "frac",
}


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="how long the timed passes run")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, default=4, help="local[N] worker threads")
    p.add_argument("--sf", default="0.01", choices=scale_factors(),
                   help="scale factor: which copy of the test data to read")
    p.add_argument("--out", help="directory for the full JSON artifact of the run")
    return p.parse_args(argv)


def scale_factors() -> list[str]:
    return sorted(d.removeprefix("sf") for d in os.listdir(TESTDATA) if d.startswith("sf"))


def verify_testdata(data_dir: str) -> None:
    """Fail unless every table listed in ``SHA256SUMS`` has its recorded bytes."""
    with open(os.path.join(data_dir, "SHA256SUMS")) as fh:
        sums = [line.split() for line in fh if line.strip()]
    for digest, name in sums:
        with open(os.path.join(data_dir, name), "rb") as fh:
            if hashlib.sha256(fh.read()).hexdigest() != digest:
                raise SystemExit(f"perfbench: {data_dir}/{name} is not the fixed test data")


# ---------------------------------------------------------------- set-up

def start_session(cores: int, work_dir: str):
    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.appName("perfbench").master(f"local[{cores}]")
             # the program's own driver memory (session.get_spark)
             .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "4g"))
             .config("spark.sql.shuffle.partitions", str(max(cores * 2, 8)))
             .config("spark.sql.autoBroadcastJoinThreshold", str(64 << 20))
             .config("spark.ui.port", "0")  # REST face of the status store
             .config("spark.ui.retainedStages", "100000")
             .config("spark.ui.retainedJobs", "100000")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.local.dir", os.path.join(work_dir, "local"))
             .config("spark.sql.warehouse.dir", os.path.join(work_dir, "warehouse"))
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def set_up(cores: int, work_dir: str, data_dir: str):
    """One set-up: JVM and session start, registry import, flagship query."""
    t0 = time.perf_counter()
    spark = start_session(cores, work_dir)
    from zoom_etl_spark import plans, registry
    specs = registry.all_queries()
    plans.flagship(spark, data_dir).collect()
    return spark, specs, time.perf_counter() - t0


def peak_rss_mb(spark) -> tuple[float, float]:
    """Peak resident memory (VmHWM) of the driver JVM and of this process."""
    def hwm_kb(pid) -> int:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
        raise RuntimeError(f"no VmHWM for pid {pid}")
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return hwm_kb(jvm_pid) / 1024, hwm_kb(os.getpid()) / 1024


def live_heap_mb(spark) -> float:
    """Heap the driver JVM holds live: used heap right after a full
    collection. Read at the end of each query of the output check, while
    the query's frame, and with it any block it cached or checkpointed,
    is still held."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    usage = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return usage.getUsed() / 2**20


# ------------------------------------------------------------ measuring

class StageMeter:
    """Cumulative completed-stage totals read from the status store's REST
    face, each (stage, attempt) counted once -- the reading
    ``zoom_etl_spark.metrics.StageMetrics`` does, with the task-time fields
    added and the listener bus drained first so no finished stage is missed."""

    FIELDS = ("numCompleteTasks", "executorRunTime", "executorCpuTime", "jvmGcTime",
              "inputBytes", "outputBytes", "shuffleReadBytes", "shuffleWriteBytes",
              "diskBytesSpilled")

    def __init__(self, spark):
        sc = spark.sparkContext
        self._url = (f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
                     "/stages?status=complete")
        self._bus = sc._jsc.sc().listenerBus()
        self._seen: set[tuple[int, int]] = set()
        self._cum = dict.fromkeys(("stages",) + self.FIELDS, 0)
        self.snapshot()

    def snapshot(self) -> dict[str, int]:
        self._bus.waitUntilEmpty()
        with urllib.request.urlopen(self._url, timeout=30) as resp:
            stages = json.load(resp)
        for st in stages:
            key = (int(st["stageId"]), int(st["attemptId"]))
            if key not in self._seen:
                self._seen.add(key)
                self._cum["stages"] += 1
                for f in self.FIELDS:
                    self._cum[f] += int(st.get(f) or 0)
        return dict(self._cum)


def catalyst_ms(qe) -> dict[str, int]:
    """Analysis, optimization and planning time from the phase tracker."""
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        summary = phases.get(phase)
        out[phase] = summary.get().durationMs() if summary.isDefined() else 0
    return out


def drain_records(drains) -> list[dict]:
    """One record per drained streaming query, from ``recentProgress``,
    which the engine fills synchronously as each micro-batch ends."""
    out = []
    for query, seconds in drains:
        batches = [dict(p) for p in query.recentProgress]
        rec = {"seconds": seconds, "batches": len(batches), "input_rows": 0,
               "trigger_ms": [], "source_ms": 0, "plan_ms": 0, "add_batch_ms": 0,
               "commit_ms": 0, "state_update_ms": 0, "state_commit_ms": 0,
               "state_rows_max": 0, "state_mem_mb_max": 0.0, "state_instances": 0}
        for b in batches:
            d = b.get("durationMs") or {}
            rec["input_rows"] += int(b.get("numInputRows") or 0)
            rec["trigger_ms"].append(int(d.get("triggerExecution", 0)))
            rec["source_ms"] += int(d.get("latestOffset", 0)) + int(d.get("getBatch", 0))
            rec["plan_ms"] += int(d.get("queryPlanning", 0))
            rec["add_batch_ms"] += int(d.get("addBatch", 0))
            rec["commit_ms"] += int(d.get("walCommit", 0)) + int(d.get("commitOffsets", 0))
            instances = 0
            for op in b.get("stateOperators") or []:
                op = dict(op)
                rec["state_update_ms"] += int(op.get("allUpdatesTimeMs") or 0)
                rec["state_commit_ms"] += int(op.get("commitTimeMs") or 0)
                rec["state_rows_max"] = max(rec["state_rows_max"],
                                            int(op.get("numRowsTotal") or 0))
                rec["state_mem_mb_max"] = max(rec["state_mem_mb_max"],
                                              int(op.get("memoryUsedBytes") or 0) / 1e6)
                instances += int(op.get("numStateStoreInstances") or 0)
            rec["state_instances"] = max(rec["state_instances"], instances)
        out.append(rec)
    return out


def tail(values: list[float], q: float = 0.90) -> tuple[float, int, int]:
    """The nearest-rank q-quantile; returns (value, sample count, samples
    beyond it). With fewer than 10 samples beyond, the quantile rests on
    few executions, and the summary says so."""
    xs = sorted(values)
    idx = max(0, math.ceil(q * len(xs)) - 1)
    return xs[idx], len(xs), sum(x > xs[idx] for x in xs)


# ------------------------------------------------------------- running

class Workload:
    """Runs one workload's queries against one session."""

    def __init__(self, spark, specs, data_dir, tracer):
        self.spark, self.specs, self.data_dir, self.tracer = spark, specs, data_dir, tracer
        self.attempted = 0
        self.live_heap_mb: list[float] = []
        self.failures: list[tuple[str, str]] = []

    def run_query(self, name: str, check=None):
        """Build, plan and execute one query (or build and ``check`` it).
        Return (latency_s, QueryExecution or None). A query that raises or
        fails its check is recorded in ``failures``; the pass goes on."""
        tr, qe, error = self.tracer, None, None
        self.attempted += 1
        t0 = time.perf_counter()
        with tr.span("query"):
            try:
                with tr.span("build"):
                    df = self.specs[name].fn(self.spark, self.data_dir)
                if check is not None:
                    error = check(name, df)
                else:
                    with tr.span("plan"):
                        qe = df._jdf.queryExecution()
                        qe.executedPlan()
                    with tr.span("exec"):
                        df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # noqa: BLE001 -- counted, and the pass goes on
                traceback.print_exc()
                error = f"{type(e).__name__}: {e}"
            latency = time.perf_counter() - t0
            with tr.span("post"):
                self.spark.catalog.clearCache()
                for q in self.spark.streams.active:
                    q.stop()
        if error is not None:
            self.failures.append((name, error[:500]))
            print(f"perfbench: {name} failed: {error[:500]}", file=sys.stderr)
        return latency, qe

    def check_pass(self, order: list[str], oracle_compare) -> None:
        def check(name, df):
            report = oracle_compare(df, self.specs[name].oracle)
            self.live_heap_mb.append(live_heap_mb(self.spark))
            return None if report["ok"] else f"oracle mismatch: {report['detail']}"
        for name in order:
            self.run_query(name, check)

    def timed_pass(self, order: list[str], meter: StageMeter | None) -> dict:
        """One pass; with ``meter`` the pass is traced."""
        tr = self.tracer
        tr.enabled = meter is not None
        tr.take()
        tr.take_drains()
        queries = []
        t0 = time.perf_counter()
        before = meter.snapshot() if meter else None
        for name in order:
            latency, qe = self.run_query(name)
            rec = {"name": name, "latency_s": latency}
            if meter:
                root = tr.spans[-1]
                after = meter.snapshot()
                rec.update(wall_s=root.dur, unattributed_s=root.self_s,
                           stage_delta={k: after[k] - before[k] for k in after},
                           catalyst_ms=catalyst_ms(qe) if qe is not None else {})
                before = after
            queries.append(rec)
        wall = time.perf_counter() - t0
        tr.enabled = False
        return {"traced": meter is not None, "wall_s": wall, "queries": queries,
                "spans": tr.take(), "drains": drain_records(tr.take_drains())}


def layer_metrics(p: dict, cores: int) -> dict[str, float]:
    """Per-layer figures of one traced pass, summed over its queries."""
    t = spans.totals(p["spans"])

    def g(name, key):
        return t.get(name, {}).get(key, 0)

    stage = {}
    cat = {"analysis": 0, "optimization": 0, "planning": 0}
    for q in p["queries"]:
        for k, v in q["stage_delta"].items():
            stage[k] = stage.get(k, 0) + v
        for k, v in q["catalyst_ms"].items():
            cat[k] += v
    wall = sum(q["wall_s"] for q in p["queries"])
    drains = p["drains"]

    def dsum(key):
        return sum(d[key] for d in drains)

    task_run_s = stage["executorRunTime"] / 1e3
    return {
        "catalog.reads": g("catalog.read", "calls"),
        "catalog.read_s": g("catalog.read", "s"),
        "catalog.read_jobs": g("catalog.read", "jobs"),
        "build.self_s": g("build", "self_s"),
        "build.jobs": g("build", "jobs"),
        "checkpoint.calls": g("checkpoint", "calls"),
        "checkpoint.s": g("checkpoint", "s"),
        "checkpoint.jobs": g("checkpoint", "jobs"),
        "catalyst.analysis_ms": cat["analysis"],
        "catalyst.optimization_ms": cat["optimization"],
        "catalyst.planning_ms": cat["planning"],
        "exec.s": g("exec", "s"),
        "exec.jobs": g("query", "jobs"),
        "exec.stages": stage["stages"],
        "exec.tasks": stage["numCompleteTasks"],
        "exec.task_run_s": task_run_s,
        "exec.task_cpu_s": stage["executorCpuTime"] / 1e9,
        "exec.gc_s": stage["jvmGcTime"] / 1e3,
        "exec.input_mb": stage["inputBytes"] / 1e6,
        "exec.shuffle_read_mb": stage["shuffleReadBytes"] / 1e6,
        "exec.shuffle_write_mb": stage["shuffleWriteBytes"] / 1e6,
        "exec.spill_mb": stage["diskBytesSpilled"] / 1e6,
        "exec.output_mb": stage["outputBytes"] / 1e6,
        "exec.slot_util": task_run_s / (wall * cores),
        "stream.drains": len(drains),
        "stream.batches": dsum("batches"),
        "stream.input_rows": dsum("input_rows"),
        "stream.drain_s": g("stream.start", "s") + g("stream.drain", "s"),
        "stream.source_ms": dsum("source_ms"),
        "stream.plan_ms": dsum("plan_ms"),
        "stream.add_batch_ms": dsum("add_batch_ms"),
        "stream.commit_ms": dsum("commit_ms"),
        "stream.state_update_ms": dsum("state_update_ms"),
        "stream.state_commit_ms": dsum("state_commit_ms"),
        "stream.state_rows_max": max((d["state_rows_max"] for d in drains), default=0),
        "stream.state_mem_mb_max": max((d["state_mem_mb_max"] for d in drains),
                                       default=0.0),
        "stream.state_instances": dsum("state_instances"),
        "sink.upsert_calls": g("sink.upsert", "calls"),
        "sink.upsert_s": g("sink.upsert", "s"),
        "txn.publish_calls": g("txn.publish", "calls"),
        "txn.publish_s": g("txn.publish", "s"),
        "driver.post_s": g("post", "s"),
        "trace.unattributed_frac": sum(q["unattributed_s"] for q in p["queries"]) / wall,
    }


def layer_self_times(p: dict) -> list[dict]:
    """Per query of a traced pass: the self time of each layer and the
    share of the query's wall time they cover."""
    out = []
    for root in (s for s in p["spans"] if s.name == "query"):
        selves: dict[str, float] = {}
        stack = list(root.children)
        while stack:
            s = stack.pop()
            selves[s.name] = selves.get(s.name, 0.0) + s.self_s
            stack.extend(s.children)
        out.append({"layers_s": selves, "covered": sum(selves.values()) / root.dur})
    return out


def end_to_end(setup_s, untimed, passes, live_heap, rss_mb) -> tuple[dict, dict]:
    """(JSON metrics, summary-only figures) over the untraced passes."""
    plain = [p for p in passes if not p["traced"]]
    lat = [q["latency_s"] for p in plain for q in p["queries"]]
    p90, n, beyond = tail(lat)
    metrics = {
        "setup_s": setup_s,
        "pass_s": statistics.median(p["wall_s"] for p in plain),
        "query_geomean_s": statistics.geometric_mean(lat),
        "peak_live_heap_mb": max(live_heap, default=0.0),
    }
    drains = [d for p in plain for d in p["drains"]]
    extra = {"query_p50_s": statistics.median(lat), "query_p90_s": p90,
             "query_samples": n, "query_beyond_p90": beyond, "passes": len(plain),
             "peak_rss_mb": rss_mb, "untimed": untimed}
    trig = [ms for d in drains for ms in d["trigger_ms"]]
    if trig:
        b90, bn, bbeyond = tail(trig)
        drain_s = sum(d["seconds"] for d in drains)
        extra.update(batch_p50_ms=statistics.median(trig), batch_p90_ms=b90,
                     batch_samples=bn, batch_beyond_p90=bbeyond,
                     stream_rows_per_s=sum(d["input_rows"] for d in drains) / drain_s)
    return metrics, extra


# ---------------------------------------------------------------- main

def main(argv: list[str] | None = None) -> int:
    t_start = time.perf_counter()
    args = parse_args(argv)
    names = list(WORKLOADS[args.workload])
    for module in ("zoom_etl_spark", "tests.oracle_harness"):
        if importlib.util.find_spec(module) is None:
            raise SystemExit(f"perfbench: {module} not found; run from a checkout root")
    data_dir = os.path.join(TESTDATA, f"sf{args.sf}")
    verify_testdata(data_dir)
    scratch = tempfile.mkdtemp(prefix="perfbench-")
    spark = None
    try:
        untimed: dict[str, float] = {}
        spark, specs, setup_s = set_up(args.cores, scratch, data_dir)

        from tests.oracle_harness import compare, duck_connection
        jsc = spark.sparkContext._jsc.sc()
        tracer = spans.Tracer(job_counter=lambda: jsc.dagScheduler().nextJobId())
        undo = spans.install(tracer)
        work = Workload(spark, specs, data_dir, tracer)
        rng = random.Random(args.seed)

        t = time.perf_counter()
        con = duck_connection(data_dir)
        # A fixed order: each live-heap reading then follows the same work.
        work.check_pass(sorted(names), lambda df, sql: compare(df, con, sql))
        con.close()
        untimed["check_pass_s"] = time.perf_counter() - t

        meter = StageMeter(spark) if args.trace else None
        passes: list[dict] = []
        t0 = time.perf_counter()
        while True:
            traced = bool(args.trace) and len(passes) % 2 == 1
            passes.append(work.timed_pass(rng.sample(names, len(names)),
                                          meter if traced else None))
            now, n_traced = time.perf_counter(), sum(p["traced"] for p in passes)
            n_plain = len(passes) - n_traced
            if n_plain >= 2 and n_traced >= 2 * args.trace and now - t0 >= args.seconds:
                break
            if n_plain >= 1 and n_traced >= args.trace and now - t_start > RUN_BUDGET_S:
                break
        jvm_mb, python_mb = peak_rss_mb(spark)
        untimed.update(jvm_peak_rss_mb=jvm_mb, python_peak_rss_mb=python_mb)
        spans.uninstall(undo)

        metrics, extra = end_to_end(setup_s, untimed, passes, work.live_heap_mb,
                                    jvm_mb + python_mb)
        extra["failed_frac"] = len(work.failures) / work.attempted
        units = dict(END_TO_END)
        layers: dict[str, float] = {}
        if args.trace:
            traced = [p for p in passes if p["traced"]]
            per_pass = [layer_metrics(p, args.cores) for p in traced]
            layers = {k: statistics.median(m[k] for m in per_pass) for k in per_pass[0]}
            # the first pass, untraced, is the slowest of a run: leave it out
            # when another untraced pass ran
            plain = ([p["wall_s"] for p in passes[1:] if not p["traced"]]
                     or [passes[0]["wall_s"]])
            layers["trace.overhead_frac"] = (
                statistics.median(p["wall_s"] for p in traced) / statistics.median(plain) - 1)
            coverage = [q["covered"] for p in traced for q in layer_self_times(p)]
            extra["layer_coverage_min"] = min(coverage)
            metrics, units = {k: layers[k] for k in PER_LAYER}, PER_LAYER

        print_summary(args, metrics, extra, layers, work)
        if args.out:
            write_artifact(args, metrics, extra, layers, passes, work)
        result = {
            "correct": not work.failures,
            "attempted": work.attempted,
            "failed": len(work.failures),
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }
        print(json.dumps(result), flush=True)
        return 0
    finally:
        if spark is not None:
            spark.stop()
        shutil.rmtree(scratch, ignore_errors=True)


def print_summary(args, metrics, extra, layers, work) -> None:
    print(f"perfbench workload={args.workload} seed={args.seed} cores={args.cores} "
          f"sf={args.sf} trace={args.trace} passes={extra['passes']} "
          f"attempted={work.attempted} failed={len(work.failures)}")
    rows = [(k, v, END_TO_END.get(k) or PER_LAYER[k]) for k, v in metrics.items()]
    rows += [(k, extra[k], u) for k, u in SUMMARY_ONLY.items() if k in extra]
    if layers:
        rows += [(k, layers[k], u) for k, u in PER_LAYER_EXTRA.items()]
    for k, v, unit in rows:
        print(f"  {k:28s} {v:14.4f} {unit}")
    print(f"  query_p90_s: {extra['query_samples']} query executions, "
          f"{extra['query_beyond_p90']} beyond the p90")
    if "batch_samples" in extra:
        print(f"  batch_p90_ms: {extra['batch_samples']} micro-batches, "
              f"{extra['batch_beyond_p90']} beyond the p90")
    if "layer_coverage_min" in extra:
        print(f"  layer self times cover >= {extra['layer_coverage_min']:.4f} "
              "of every traced query's wall time")
    for name, error in work.failures:
        print(f"  FAILED {name}: {error[:200]}")


def write_artifact(args, metrics, extra, layers, passes, work) -> None:
    """Write the run's full record, named by workload, cores, sf, seed and
    trace so that runs at other settings never overwrite it."""
    os.makedirs(args.out, exist_ok=True)
    path = os.path.join(args.out, f"{args.workload}.c{args.cores}.sf{args.sf}."
                                  f"seed{args.seed}.trace{args.trace}.json")
    record = {
        "workload": args.workload, "seed": args.seed, "cores": args.cores, "sf": args.sf,
        "trace": args.trace, "seconds": args.seconds, "metrics": metrics, "extra": extra,
        "layers": layers, "attempted": work.attempted, "failures": work.failures,
        "passes": [{"traced": p["traced"], "wall_s": p["wall_s"], "queries": p["queries"],
                    "drains": p["drains"],
                    "layer_self_times": layer_self_times(p) if p["traced"] else None}
                   for p in passes],
    }
    with open(path, "w") as fh:
        json.dump(record, fh, indent=1, default=str)


if __name__ == "__main__":
    sys.exit(main())
