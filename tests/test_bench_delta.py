"""tools/bench_delta.py: prior minima fold across runs, the 2x flag
binds, new/gone queries are reported, exit code gates on flags; the
round-9 hardenings (committed-priors gate, re-plan-aware priors,
machine-recorded reclears) each have their own gate tests."""

from __future__ import annotations

import importlib.util
import json
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
BENCH_DELTA = str(REPO / "tools" / "bench_delta.py")

_spec = importlib.util.spec_from_file_location("bench_delta", BENCH_DELTA)
bench_delta = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(bench_delta)


def _write(tmp_path, name, queries):
    p = tmp_path / name
    p.write_text(json.dumps({"metric": "suite_total_wall_clock",
                             "queries": queries}))
    return str(p)


def _run(tmp_path, cur, prevs, factor=None, replans=None, strict=False):
    out = str(tmp_path / "delta.json")
    cmd = [sys.executable, BENCH_DELTA,
           "--current", cur, "--prev", *prevs, "--out", out,
           # tests run on tmp files; the strict gate has its own test
           "--replans", replans or str(tmp_path / "no_replans.json")]
    if not strict:
        cmd += ["--allow-uncommitted"]
    if factor:
        cmd += ["--factor", str(factor)]
    r = subprocess.run(cmd, capture_output=True, text=True)
    try:
        payload = json.load(open(out))
    except FileNotFoundError:
        payload = json.loads(r.stdout)
    return r.returncode, payload


def test_minima_fold_and_flagging(tmp_path):
    a = _write(tmp_path, "a.json", {"q1": 4.0, "q2": 1.0, "gone": 1.0})
    b = _write(tmp_path, "b.json", {"q1": 1.0, "q2": 5.0})
    # q1 prior min = 1.0 (run b), q2 prior min = 1.0 (run a)
    cur = _write(tmp_path, "cur.json",
                 {"q1": 2.5, "q2": 1.9, "brand_new": 9.9})
    rc, d = _run(tmp_path, cur, [a, b])
    assert rc == 1
    assert set(d["flagged"]) == {"q1"}         # 2.5 > 2 x 1.0; q2 under
    assert d["flagged"]["q1"]["ratio"] == 2.5
    assert d["new_queries"] == ["brand_new"]   # never compared, never flags
    assert d["gone_queries"] == ["gone"]
    assert d["n_compared"] == 2


def test_clean_round_exits_zero(tmp_path):
    a = _write(tmp_path, "a.json", {"q1": 1.0})
    cur = _write(tmp_path, "cur.json", {"q1": 1.9})
    rc, d = _run(tmp_path, cur, [a])
    assert rc == 0 and d["flagged"] == {}


def test_errored_queries_reported_explicitly(tmp_path):
    """bench.py times errored queries too (often a fast abort): such a
    timing must neither seed a bogus prior min nor dodge a flag by
    crashing fast in the current run. Round-7 ADVICE: a current-run
    crash is a dedicated `errored_current` entry (and exits 1), a
    prior-only error is `no_clean_prior` — neither masquerades as a
    new/gone query."""
    prev = tmp_path / "prev.json"
    prev.write_text(json.dumps({
        "queries": {"q1": 0.5, "q2": 1.0},
        "errors": {"q1": "StreamingQueryException: transient abort"}}))
    cur = tmp_path / "cur.json"
    cur.write_text(json.dumps({
        "queries": {"q1": 8.0, "q2": 0.4},
        "errors": {"q2": "AnalysisException: crash-fast"}}))
    rc, d = _run(tmp_path, str(cur), [str(prev)])
    # q1's 0.5 prior was an errored timing -> no 16x flag, but it is
    # named in no_clean_prior; q2's current run CRASHED -> named in
    # errored_current and the tool gates (exit 1). Both are still
    # registered queries, so neither is "new" nor "gone".
    assert rc == 1 and d["flagged"] == {}
    assert d["n_compared"] == 0
    assert d["errored_current"] == ["q2"]
    assert d["no_clean_prior"] == ["q1"]
    assert d["new_queries"] == [] and d["gone_queries"] == []


def test_truly_new_and_gone_still_reported(tmp_path):
    """Genuine additions/removals (no errors involved) keep their
    new/gone classification after the errored-query split."""
    a = _write(tmp_path, "a.json", {"q1": 1.0, "gone": 1.0})
    cur = _write(tmp_path, "cur.json", {"q1": 1.2, "brand_new": 2.0})
    rc, d = _run(tmp_path, cur, [a])
    assert rc == 0
    assert d["new_queries"] == ["brand_new"]
    assert d["gone_queries"] == ["gone"]
    assert d["errored_current"] == [] and d["no_clean_prior"] == []


def test_factor_override(tmp_path):
    a = _write(tmp_path, "a.json", {"q1": 1.0})
    cur = _write(tmp_path, "cur.json", {"q1": 1.9})
    rc, d = _run(tmp_path, cur, [a], factor=1.5)
    assert rc == 1 and set(d["flagged"]) == {"q1"}


def test_prior_fold_map_preferred(tmp_path):
    """A self-folding prior artifact's queries_min_of_runs (already the
    min across its run history) beats its single-run map; the current
    file's fold map is ignored (the gate judges the latest run)."""
    prev = tmp_path / "prev.json"
    prev.write_text(json.dumps({
        "queries": {"q1": 9.0},              # noisy final run
        "queries_min_of_runs": {"q1": 1.0},  # the gated minimum
        "runs_folded": 2}))
    cur = tmp_path / "cur.json"
    cur.write_text(json.dumps({
        "queries": {"q1": 2.5},
        "queries_min_of_runs": {"q1": 0.1}}))  # must NOT be compared
    rc, d = _run(tmp_path, str(cur), [str(prev)])
    assert rc == 1 and d["flagged"]["q1"]["prev_min"] == 1.0
    assert d["flagged"]["q1"]["current"] == 2.5


# ---------------------------------------------------------------------------
# Round-9 hardenings (round-8 verdict items 3+4)

def test_uncommitted_prior_rejected(tmp_path):
    """Without --allow-uncommitted, a prior outside git is exit 2 —
    the committed delta must be reproducible from the repo alone (the
    round-8 artifact cited /tmp/bench_full_r07.json)."""
    a = _write(tmp_path, "a.json", {"q1": 1.0})
    cur = _write(tmp_path, "cur.json", {"q1": 1.0})
    rc, d = _run(tmp_path, cur, [a], strict=True)
    assert rc == 2
    assert d.get("uncommitted") == [a]


def test_committed_prior_accepted(tmp_path):
    """A git-tracked repo artifact passes the strict gate (the normal
    round protocol path). Compared against itself at a huge factor —
    nothing can flag; the exit code is the committed-check verdict."""
    prior = str(REPO / "BENCH_local_r08a.json")
    out = str(tmp_path / "delta.json")
    cmd = [sys.executable, BENCH_DELTA,
           "--current", prior, "--prev", prior,
           "--out", out, "--factor", "1000"]
    r = subprocess.run(cmd, capture_output=True, text=True)
    assert r.returncode in (0, 1), r.stdout  # 1 only if artifact has
    d = json.load(open(out))  # errored rows
    assert d["flagged"] == {}


def test_replans_drop_pre_replan_history_runs(tmp_path):
    """A prior with runs_history: runs timestamped before a query's
    re-plan `since` are dropped for THAT query only — the fresh
    post-re-plan run becomes its baseline, other queries keep their
    full-history minima."""
    prev = tmp_path / "prev.json"
    prev.write_text(json.dumps({"runs_history": [
        {"ts": "2026-08-15T00:00:00Z",
         "queries": {"q1": 0.1, "q2": 1.0}},   # q1's dead-plan timing
        {"ts": "2026-08-16T12:00:00Z",
         "queries": {"q1": 1.0, "q2": 3.0}},
    ]}))
    replans = tmp_path / "replans.json"
    replans.write_text(json.dumps({
        "q1": {"since": "2026-08-16T00:00:00Z", "note": "re-planned"}}))
    cur = _write(tmp_path, "cur.json", {"q1": 1.5, "q2": 2.1})
    rc, d = _run(tmp_path, cur, [str(prev)], replans=str(replans))
    # q1: 1.5 vs post-re-plan min 1.0 -> under 2x, NOT the 15x the
    # dead plan would scream; q2: 2.1 vs min(1.0, 3.0)=1.0 -> flagged
    assert set(d["flagged"]) == {"q2"}, d
    assert rc == 1
    assert d["replan_dropped"] == []  # q1 kept a post-re-plan prior


def test_replans_unknown_age_prior_dropped(tmp_path):
    """A flat single-run prior has no per-run timestamps: a re-planned
    query's prior age is unknowable, so it is dropped conservatively,
    reported under replan_dropped, and never classified as new."""
    a = _write(tmp_path, "a.json", {"q1": 0.1, "q2": 1.0})
    replans = tmp_path / "replans.json"
    replans.write_text(json.dumps({
        "q1": {"since": "2026-08-16T00:00:00Z", "note": "re-planned"}}))
    cur = _write(tmp_path, "cur.json", {"q1": 5.0, "q2": 1.5})
    rc, d = _run(tmp_path, cur, [a], replans=str(replans))
    assert rc == 0 and d["flagged"] == {}
    assert d["replan_dropped"] == ["q1"]
    assert d["new_queries"] == [] and d["gone_queries"] == []
    assert d["n_compared"] == 1  # only q2


def test_reclear_verdicts_recorded():
    """apply_reclears mutates each flag with a machine-recorded
    {cold,warm,best,verdict} row: min-of-2 at/below factor*prev_min
    clears, above confirms, a runner error keeps the flag."""
    flagged = {
        "fast_again": {"prev_min": 1.0, "current": 5.0, "ratio": 5.0},
        "still_slow": {"prev_min": 1.0, "current": 5.0, "ratio": 5.0},
        "crashes": {"prev_min": 1.0, "current": 5.0, "ratio": 5.0},
    }
    results = {"fast_again": {"cold": 3.0, "warm": 1.1},
               "still_slow": {"cold": 4.0, "warm": 3.5},
               "crashes": {"error": "Boom: transient"}}
    remaining = bench_delta.apply_reclears(
        flagged, lambda name: results[name], factor=2.0)
    assert remaining == ["crashes", "still_slow"]
    assert flagged["fast_again"]["reclear"]["verdict"] == "cleared"
    assert flagged["fast_again"]["reclear"]["best"] == 1.1
    assert flagged["still_slow"]["reclear"]["verdict"] == \
        "confirmed_regression"
    assert flagged["crashes"]["reclear"]["verdict"] == "error"


def test_rev_path_prior_accepted_and_loaded():
    """A REV:PATH git spec is committed by construction: it passes the
    strict gate and loads the blob content at that revision, so the
    prior survives the working-tree file being overwritten (the
    round-9 self-prior fix)."""
    assert bench_delta.is_rev_path("HEAD:BENCH_full.json")
    assert not bench_delta.is_rev_path(str(REPO / "BENCH_full.json"))
    assert not bench_delta.is_rev_path("docs/replans.json")
    assert bench_delta.is_committed("HEAD:BENCH_full.json")
    d = bench_delta.load_json_prior("HEAD:BENCH_full.json")
    assert "queries" in d


def test_dirty_tracked_prior_rejected(tmp_path, monkeypatch):
    """A git-tracked file with local edits is NOT a committed prior —
    its content is as unrecoverable as a /tmp file. (Simulated via the
    porcelain call so no real tracked file is dirtied.)"""
    real_run = bench_delta.subprocess.run
    asked = []

    def fake_run(cmd, **kw):
        if cmd[:2] == ["git", "status"]:
            asked.append(cmd)
            return type("R", (), {"returncode": 0,
                                  "stdout": " M BENCH_full.json\n"})()
        return real_run(cmd, **kw)

    monkeypatch.setattr(bench_delta.subprocess, "run", fake_run)
    assert not bench_delta.is_committed(str(REPO / "BENCH_full.json"))
    assert asked, "rejected before the porcelain check was reached"


def test_norm_ts_handles_offsets():
    """A +02:00 `since` from a non-UTC machine must sort
    chronologically against Z run stamps, not as local-time text
    (review finding: lexicographic compare mis-classified runs within
    the offset window)."""
    n = bench_delta._norm_ts
    assert n("2026-08-16T23:43:18+02:00") == "2026-08-16T21:43:18Z"
    assert n("2026-08-16T21:43:18Z") == "2026-08-16T21:43:18Z"
    assert n("2026-08-16T21:43:18+00:00") == "2026-08-16T21:43:18Z"
    # post-re-plan Z run no longer sorts before a +02:00 since
    assert n("2026-08-16T22:00:00Z") > n("2026-08-16T23:43:18+02:00")
    assert n("not a timestamp") == "not a timestamp"  # never raises


def test_runs_history_non_numeric_timing_skipped(tmp_path):
    """A hand-annotated or null timing inside runs_history must be
    filtered like the flat path filters it, not crash the gate."""
    p = tmp_path / "hist.json"
    p.write_text(json.dumps({"runs_history": [
        {"ts": "2026-08-16T00:00:00Z",
         "queries": {"q1": 1.0, "q2": "folded: see note", "q3": None}},
    ]}))
    clean, errored, dropped = bench_delta.load_prior(str(p), {})
    assert clean == {"q1": 1.0}
    assert not errored and not dropped
