import sys, io, contextlib, os
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
from zoom_etl_spark.session import get_spark
from zoom_etl_spark.registry import all_queries
from zoom_etl_spark import plans

spark = get_spark("plansdoc", cpus="8")
spark.sparkContext.setLogLevel("ERROR")
SF = "/root/testdata/sf0.01"
specs = all_queries()

SECTIONS = [
    ("flagship_topk_revenue", plans.flagship,
     "The engine spine: parquet scans with pruned schemas -> shuffle join on "
     "o_custkey -> broadcast joins for the bounded dims (nation, region) -> "
     "partial+final hash aggregate -> single window for the top-3 -> order. "
     "Only two shuffles total (fact join + aggregate)."),
    ("incremental_scan", specs["incremental_scan"].fn,
     "The watermark predicate reaches the parquet scan as a PushedFilter on the "
     "raw nanos column (row-group min/max skipping; partition pruning on a "
     "date-partitioned layout). A filter above the timestamp conversion would "
     "NOT push - this is pinned by tests/test_plans.py."),
    ("merge_upsert", specs["merge_upsert"].fn,
     "Upsert-by-join: WindowGroupLimit does per-mapper top-1 BEFORE the "
     "shuffle (partial last-wins), the FullOuter sort-merge join consumes the "
     "window's hash partitioning with no extra exchange, and the NULL-key "
     "branch unions in with IsNull pushed to its scan."),
    ("dedup_minhash", specs["dedup_minhash"].fn,
     "MinHash-LSH: the expensive shingle expression evaluates once into a "
     "persisted table; band keys explode to (band, key) longs; candidate "
     "generation is an equi-join on those longs - a linear shuffled hash "
     "join, never O(n^2)."),
    ("similarity_topk", specs["similarity_topk"].fn,
     "Brute-force cosine baseline: the 1-row query vector broadcasts, the "
     "per-row dot product pipelines inside the scan stage, and the global "
     "top-10 is TakeOrderedAndProject (per-partition top-k, driver merge of "
     "k rows per partition - no score shuffle)."),
    ("tpch_q3_shipping_priority", specs["tpch_q3_shipping_priority"].fn,
     "Classic selective-dim OLAP shape: the segment filter prunes customer at "
     "the scan, date filters prune both fact scans, joins shuffle on their "
     "keys, and the final top-10 is TakeOrderedAndProject."),
    ("text_tfidf_topk", specs["text_tfidf_topk"].fn,
     "Two-aggregate relevance shape: the (doc, term) count combines map-side "
     "before its exchange, document frequencies are a second rollup OF THAT "
     "AGGREGATE (no second corpus scan), the 1-row corpus count arrives via "
     "BroadcastNestedLoopJoin (a 1-row cross join, not a data-sized one), and "
     "the per-doc top-3 is a WindowGroupLimit - rank truncation happens "
     "before the window sort's exchange."),
    ("stream_temporal_join", lambda sp, sf: __import__(
        "zoom_etl_spark.suite.sources_streaming", fromlist=["x"]
     )._temporal_join_plan(sp, sf),
     "Point-in-time enrichment as a STATELESS stream-static join: the "
     "versioned dim (scd2 intervals via lead) broadcasts, each micro-batch "
     "probes it with the interval predicate as the join residual - no state "
     "store, no watermark bookkeeping, append semantics. Shown here is the "
     "batch-equivalent plan of one micro-batch."),
    ("funnel_conversion", specs["funnel_conversion"].fn,
     "Ordered-funnel shape: each stage is a keyed min-aggregate joined to "
     "the previous stage's survivor frontier; only (user, frontier-ts) rows "
     "flow between stages, so the per-stage cost is one map-combined "
     "aggregate + one join regardless of how many events each user has."),
    ("join_band_dates", specs["join_band_dates"].fn,
     "Count-only band query after the round-3 aggregate-pushdown "
     "rewrite: per-day counts (map-combined, day-domain-sized), a +-1 "
     "range window over the tiny day axis, one broadcast probe back to "
     "orders. The 27M-candidate banded hash join this replaced is gone; "
     "the plan is flat at 10x (1.0 s in the scale smoke)."),
    ("heavy_hitters_terms", specs["heavy_hitters_terms"].fn,
     "Two-pass sketch-then-verify: mapInPandas Misra-Gries summaries "
     "feed a k-bounded candidate distinct; the exact recount scans the "
     "corpus a second time behind a BroadcastHashJoin on the candidate "
     "set, so no vocabulary-sized shuffle ever forms; the threshold is "
     "an integer comparison against the broadcast 1-row total."),
    ("rolling_distinct_users", specs["rolling_distinct_users"].fn,
     "Exact trailing-7-day actives: one user-keyed sort window builds "
     "coverage intervals (lag + running sum), explode is bounded by "
     "7x|user-days|, and the per-day tally is a plain map-combined "
     "count - no days x events range join, no COUNT DISTINCT "
     "shuffle anywhere in the plan."),
    ("geo_neighbor_pairs", specs["geo_neighbor_pairs"].fn,
     "Cell-blocked spatial join: side A explodes to its 3x3 probe "
     "cells, ONE shuffled equi-join on the composite cell key, squared "
     "integer distance rides as a residual filter - no "
     "BroadcastNestedLoopJoin, candidates proportional to local "
     "density."),
    ("assoc_rules_brands", specs["assoc_rules_brands"].fn,
     "Market-basket rules: one orderkey shuffle builds basket arrays "
     "(collect_set dedups inside the aggregate), pair generation is a "
     "codegen'd in-array double transform + explode (no baskets x "
     "baskets self-join), and item/total frames broadcast back onto "
     "the item-cardinality-bounded rule frame."),
    ("mv_incremental_refresh", specs["mv_incremental_refresh"].fn,
     "Incremental MV maintenance: delta-side aggregate is map-combined "
     "and delta-sized; the merge is one full-outer join on the key "
     "with coalesced state sums - base is never rescanned beyond its "
     "stored aggregate. Near-flat at 10x (0.8 s in the scale smoke)."),
    ("anomaly_mad", specs["anomaly_mad"].fn,
     "Robust MAD outliers in pure integers: two group-keyed exact "
     "percentile aggregates produce group-count-sized frames that "
     "broadcast back; flags are row-local integer comparisons "
     "(22239/10000 rationalizes the 1.4826 constant), so nothing "
     "float-accumulates across partitions."),
    ("dedup_incremental", specs["dedup_incremental"].fn,
     "Incremental near-dup: both sides shingle once, the df filter is "
     "computed over the union, candidates come ONLY from new x old posting "
     "joins (no old x old pair ever forms), and the exact-Jaccard verify "
     "joins the full sets back. Cost scales with the batch, not the corpus "
     "squared."),
    ("graph_triangles", specs["graph_triangles"].fn,
     "Degree-oriented triangle counting: per-order supplier sets build in "
     "ONE orderkey aggregate (no lineitem self-join anywhere in the plan), "
     "the thresholded edge list localCheckpoints once and feeds broadcast "
     "degree joins, and the triangle core is two wedge joins plus one "
     "closing equi-join (all broadcast at audit scale - AQE sees the "
     "thresholded edge list is KBs; at production edge counts they "
     "shuffle on the wedge key) - wedge work bounded by sum of "
     "out-degrees squared under the orientation, the O(m^1.5) "
     "guarantee."),
    ("geo_polygon_contain", specs["geo_polygon_contain"].fn,
     "Geofence rollup: the bbox prefilter is a BroadcastNestedLoopJoin "
     "whose residual IS the range predicate (a 3-row broadcast side - the "
     "cheap kind of BNLJ), the edge table follows as a BroadcastHashJoin "
     "on poly_id, so the corpus is scanned once and only bbox survivors "
     "pay the per-edge integer half-plane conjunction; the final rollup "
     "is fence-count-sized."),
    ("er_blocked_linkage", specs["er_blocked_linkage"].fn,
     "Compound-blocked record linkage: both sides explode to four "
     "(region, banding) keys, ONE shuffled equi-join on the composite "
     "block key generates candidates, dropDuplicates collapses multi-pass "
     "hits before the levenshtein scoring projects - candidates stay "
     "band-population-sized (the name-only variant measured 4.5M "
     "candidates; this plan ~40k at sf0.1)."),
]

out = ["""# Plan audits

`.explain("formatted")` captures of representative physical plans at
sf0.01 with commentary - the evidence behind the plan-shape tests
(tests/test_plans.py). Regenerate with `python docs/gen_plans.py`.
"""]
for name, fn, commentary in SECTIONS:
    df = fn(spark, SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    out.append(f"## {name}\n\n{commentary}\n\n```\n{buf.getvalue().strip()}\n```\n")

open(os.path.join(ROOT, "docs", "PLANS.md"), "w").write("\n".join(out))
print("written", sum(len(s) for s in out), "chars")
