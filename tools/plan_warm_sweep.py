#!/usr/bin/env python
"""Warm-session plan-budget sweep (round-7 verdict item 1): re-arm the
shuffle-regression tripwire over the minhash-banding dedup family whose
initial-plan exchange counts are CACHE-STATE-dependent and therefore
could not live in docs/plan_budgets.json.

Mechanism (diagnosed round 8): these queries ``persist()`` their
shingle frames during construction (dedup/minhash.py:116,
dedup/ngram.py:103-104,138). Spark's CacheManager substitutes
InMemoryRelation into ANY canonically-matching subtree, so the plan a
query gets depends on which cache entries are live — including entries
left by OTHER family members (observed: dedup_ngram_jaccard probes 9
exchanges cache-clean, 15 after its own execution, 27 after the whole
family executed). A single pin would flake.

The NORMALIZED protocol makes both ends deterministic, per query:

    clearCache -> build+profile (COLD: no cache entries)
               -> execute to a noop sink (materializes its own caches)
               -> rebuild+profile (WARM: exactly its own caches live)

Probed order-independent and repeat-stable (cold 9/12/9, warm
15/20/15 at sf0.001). This tool sweeps the family and writes the
second golden docs/plan_budgets_warm.json; tests/test_plan_budgets_warm.py
re-runs the protocol and asserts equality, so an extra shuffle sneaking
into the engine's most expensive query family is a red diff again.

Round-9 (round-8 verdict item 7) extends the same normalized protocol
to TIER 2: every other excluded query except the by-design
runtime-statistics one (`join_auto_skew`). Their exclusion from the
COLD golden stands — construction runs jobs (drains, iterative
rounds, collected calibrations, staged writes), so the initial plan
is not a pure lazy artifact — but under clearCache normalization the
FINAL returned frame's exchange counts turn out repeat-stable for
most of them, so cold+warm rows are pinned in the same golden
(`queries_tier2`) and any query that probes unstable or errors gets a
dated note (`tier2_notes`) instead of a silent hole. The tier-2 sweep
drains/iterates per profile, so it runs as a TOOL (--tier2 to
regenerate, --check to diff against the golden — a tier-1 verify step
in ROADMAP.md), not inside pytest; pytest keeps asserting tier 1
every run.

Regenerate (after an INTENDED plan change) with:
    python tools/plan_warm_sweep.py            # tier 1 (golden "queries")
    python tools/plan_warm_sweep.py --tier2    # tier 2 rows + notes
Check without rewriting:
    python tools/plan_warm_sweep.py --check    # exit 1 on any drift
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "docs"))

SF = "/root/testdata/sf0.001"
OUT = os.path.join(ROOT, "docs", "plan_budgets_warm.json")

# The cache-state-dependent family (gen_plan_budgets.py excludes these
# from the cold golden with a reason pointing here).
WARM_PINNED = ("dedup_incremental", "dedup_minhash", "dedup_ngram_jaccard")

PROTOCOL = ("per query: clearCache -> profile cold -> execute to noop "
            "sink -> profile warm (own caches only); order-independent")


def tier2_names() -> list[str]:
    """Every excluded query outside tier 1, minus the by-design
    runtime-statistics exclusion (its final plan varies with AQE/skew
    sampling ON PURPOSE — a pin would assert noise)."""
    from gen_plan_budgets import EXCLUDED

    return sorted(set(EXCLUDED) - set(WARM_PINNED) - {"join_auto_skew"})


def _profile_pair(spark, fn, sf_dir) -> dict:
    """One normalized cold/warm round for a query."""
    from gen_plan_budgets import shuffle_profile

    spark.catalog.clearCache()
    cold = shuffle_profile(fn(spark, sf_dir)._jdf)
    df = fn(spark, sf_dir)
    if not df.isStreaming:
        df.write.mode("overwrite").format("noop").save()
    warm = shuffle_profile(fn(spark, sf_dir)._jdf)
    return {"cold": cold, "warm": warm}


def sweep(spark, names=WARM_PINNED, sf_dir=SF) -> dict:
    """Run the normalized protocol for each query; return
    {name: {"cold": {...}, "warm": {...}}}."""
    from zoom_etl_spark.registry import all_queries

    qs = all_queries()
    out = {}
    for name in sorted(names):
        out[name] = _profile_pair(spark, qs[name].fn, sf_dir)
    spark.catalog.clearCache()
    return out


def sweep_tier2(spark, names=None, sf_dir=SF, repeats=2
                ) -> tuple[dict, dict]:
    """(stable pins, dated notes). A query pins only if `repeats`
    independent normalized rounds agree on BOTH profiles; otherwise
    the observed disagreement (or the error) becomes its note — no
    silent holes (round-8 verdict item 7)."""
    import time

    from zoom_etl_spark.registry import all_queries

    qs = all_queries()
    today = time.strftime("%Y-%m-%d")
    pins: dict = {}
    notes: dict = {}
    for name in sorted(names if names is not None else tier2_names()):
        rounds = []
        try:
            for _ in range(repeats):
                rounds.append(_profile_pair(spark, qs[name].fn, sf_dir))
        except Exception as e:  # noqa: BLE001 — note, don't abort sweep
            notes[name] = {"date": today, "reason":
                           f"profile errored: {type(e).__name__}: "
                           f"{e}"[:300]}
            continue
        if all(r == rounds[0] for r in rounds):
            pins[name] = rounds[0]
        else:
            notes[name] = {
                "date": today,
                "reason": "repeat-unstable under the normalized "
                          "protocol (construction state varies run to "
                          "run) — unpinnable without flaking",
                "observed": rounds,
            }
    spark.catalog.clearCache()
    return pins, notes


def check(spark) -> int:
    """Diff both tiers against the golden (single repeat — instability
    was screened at pin time); returns the number of drifted queries
    and prints each. The per-round evidence bundle gates on this."""
    golden = json.load(open(OUT))
    drift = 0
    got1 = sweep(spark)
    for name, want in golden["queries"].items():
        if got1.get(name) != want:
            print(json.dumps({"tier": 1, "query": name, "want": want,
                              "got": got1.get(name)}))
            drift += 1
    pinned2 = golden.get("queries_tier2", {})
    got2, notes2 = sweep_tier2(spark, names=sorted(pinned2), repeats=1)
    for name, want in pinned2.items():
        got = got2.get(name, notes2.get(name))
        if got != want:
            print(json.dumps({"tier": 2, "query": name, "want": want,
                              "got": got}))
            drift += 1
    return drift


def main() -> None:
    import argparse

    from zoom_etl_spark.session import get_spark

    ap = argparse.ArgumentParser()
    ap.add_argument("--tier2", action="store_true",
                    help="regenerate the tier-2 rows + notes")
    ap.add_argument("--check", action="store_true",
                    help="diff both tiers against the golden; exit 1 "
                         "on drift")
    args = ap.parse_args()

    spark = get_spark("plan-warm-sweep", cpus="8")
    spark.sparkContext.setLogLevel("ERROR")

    if args.check:
        drift = check(spark)
        print(json.dumps({"metric": "plan_warm_check",
                          "n_drifted": drift}))
        spark.stop()
        sys.exit(1 if drift else 0)

    try:
        golden = json.load(open(OUT))
    except (OSError, ValueError):
        golden = {}
    golden["protocol"] = PROTOCOL
    golden["sf"] = SF
    if args.tier2:
        pins, notes = sweep_tier2(spark)
        golden["tier2_protocol"] = (
            "same normalized rounds, pinned only when 2 independent "
            "repeats agree on cold AND warm; join_auto_skew stays out "
            "by design (runtime-statistics plan)")
        golden["queries_tier2"] = pins
        golden["tier2_notes"] = notes
        summary = {"metric": "plan_warm_sweep_tier2",
                   "n_pinned": len(pins), "n_notes": len(notes),
                   "notes": sorted(notes), "out": OUT}
    else:
        golden["queries"] = sweep(spark)
        summary = {"metric": "plan_warm_sweep",
                   "n_pinned": len(golden["queries"]), "out": OUT,
                   "queries": golden["queries"]}
    with open(OUT, "w") as fh:
        json.dump(golden, fh, indent=1, sort_keys=True)
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
