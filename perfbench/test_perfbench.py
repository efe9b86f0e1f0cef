"""Self-test of the benchmark. Run from the checkout root:

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
from types import SimpleNamespace

import pytest

from perfbench import bench, spans
from perfbench.workloads import DRIVEN, WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def test_workloads_resolve_to_registered_queries_with_oracles():
    from zoom_etl_spark import registry
    specs = registry.all_queries()
    for workload, names in WORKLOADS.items():
        assert names and len(set(names)) == len(names), workload
        for name in names:
            assert name in specs, (workload, name)
            assert specs[name].oracle, (workload, name)


def test_metric_names_and_units_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    declared = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert declared == bench.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == bench.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(DRIVEN)
    assert set(DRIVEN) <= set(WORKLOADS)
    every = (bench.END_TO_END | bench.PER_LAYER | bench.PER_LAYER_EXTRA
             | bench.SUMMARY_ONLY)
    for name in every:
        assert NAME.match(name), name


def test_inputs_are_the_fixed_testdata_copy():
    from tests.oracle_harness import TABLES
    data_dir = os.path.join(bench.TESTDATA, "sf0.01")
    assert "0.01" in bench.scale_factors()
    assert {f.removesuffix(".parquet") for f in os.listdir(data_dir)
            if f.endswith(".parquet")} == set(TABLES)
    bench.verify_testdata(data_dir)  # exits on any changed byte


def test_tail_is_the_nearest_rank_quantile():
    assert bench.tail(list(range(1000))) == (899, 1000, 100)
    assert bench.tail([3.0, 1.0, 2.0]) == (3.0, 3, 0)


def test_spans_nest_and_self_times_add_up():
    ticks = iter(range(100))
    tracer = spans.Tracer(clock=lambda: next(ticks))
    tracer.enabled = True
    with tracer.span("query"):
        with tracer.span("build"):
            with tracer.span("catalog.read"):
                pass
            with tracer.span("checkpoint"):
                pass
        with tracer.span("exec"):
            pass
    done = tracer.take()
    root = done[-1]
    assert root.name == "query" and root.parent is None
    for s in done:
        assert s.self_s >= 0
        if s.parent is not None:
            assert s.parent.start <= s.start <= s.end <= s.parent.end
    assert sum(s.self_s for s in done) == root.dur
    t = spans.totals(done)
    assert t["build"]["self_s"] == t["build"]["s"] - 2


def test_disabled_tracer_records_nothing():
    tracer = spans.Tracer()
    assert tracer.wrap("x", lambda a: a + 1)(1) == 2
    assert tracer.take() == []


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    session = bench.start_session(1, str(tmp_path_factory.mktemp("spark")))
    yield session
    session.stop()


def _spec(fn):
    return SimpleNamespace(fn=fn, oracle="SELECT 1")


def _boom(spark, data_dir):
    raise RuntimeError("planted failure")


def test_planted_failure_is_counted_and_the_pass_goes_on(spark):
    specs = {"boom": _spec(_boom),
             "ok": _spec(lambda s, d: s.range(10).selectExpr("id % 3 AS k")
                         .groupBy("k").count())}
    work = bench.Workload(spark, specs, "", spans.Tracer())
    p = work.timed_pass(["boom", "ok", "ok"], None)
    assert [q["name"] for q in p["queries"]] == ["boom", "ok", "ok"]
    assert work.attempted == 3
    assert [name for name, _ in work.failures] == ["boom"]
    metrics, extra = bench.end_to_end(1.0, {}, [p], [], 1.0)
    assert metrics["pass_s"] == p["wall_s"]
    # an oracle mismatch counts the same way
    work.check_pass(["ok"], lambda df, sql: {"ok": False, "detail": "planted"})
    assert [name for name, _ in work.failures] == ["boom", "ok"]
    assert work.attempted == 4


def test_traced_pass_spans_nest_and_cover_wall_time(spark):
    from zoom_etl_spark import catalog  # noqa: F401 -- install wraps it
    jsc = spark.sparkContext._jsc.sc()
    tracer = spans.Tracer(job_counter=lambda: jsc.dagScheduler().nextJobId())
    specs = {"q": _spec(lambda s, d: s.range(100).selectExpr("id % 7 AS k")
                        .groupBy("k").count().localCheckpoint(eager=False))}
    undo = spans.install(tracer)
    try:
        work = bench.Workload(spark, specs, "", tracer)
        p = work.timed_pass(["q", "q"], bench.StageMeter(spark))
    finally:
        spans.uninstall(undo)
    assert not work.failures
    names = {s.name for s in p["spans"]}
    assert {"query", "build", "checkpoint", "plan", "exec", "post"} <= names
    for s in p["spans"]:
        assert s.self_s >= 0, s.name
        if s.parent is not None:
            assert s.parent.start <= s.start and s.end <= s.parent.end
    for q in bench.layer_self_times(p):
        assert 0.95 <= q["covered"] <= 1.0 + 1e-9
    layers = bench.layer_metrics(p, 1)
    assert layers["checkpoint.calls"] == 2 and layers["exec.jobs"] >= 2
    assert layers["exec.tasks"] > 0
    assert layers["exec.slot_util"] > 0
