"""Graph analytics over the purchase graph — iterative fixpoint shapes
(PageRank, BFS frontiers) that complement the transitive closure in
``dedup/cluster.py``.

The graph: the bipartite customer→supplier network induced by
orders ⋈ lineitem (who buys from whom) — the reference's relational
core (reference src/db/load.py's FK graph) read as an actual graph.

Engine portability: PageRank is computed in EXACT INTEGER arithmetic
(ranks are 1e-12-scaled bigints, every per-edge contribution floored
with integer division) so the per-node sums are associative and the
answer is bit-identical regardless of summation order, partitioning, or
engine — the same trick as ``trend_linefit``'s integer moments. A
floating-point PageRank would differ between Spark and the oracle in
the last ulp and diverge further every iteration.

Scale posture: each PageRank iteration is one |E|-sized equi-join +
groupBy(dst) (map-side combined) plus two rank-table-sized side
aggregates; no driver data ever (N and the dangling mass travel as
1-row broadcast crossJoins). Iterations are a fixed constant (3), so
the plan is statically bounded; edge/degree inputs are localCheckpointed
once so the loop reuses them instead of re-shuffling the join. BFS is
the standard frontier expansion: each hop is a frontier ⋈ edges
semi-join — linear in touched edges, never all-pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..registry import query

_S = 1_000_000_000_000  # rank scale: 1.0 == 1e12
_ITERS = 3


def _purchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The purchase graph's edge list: distinct (src=o_custkey,
    dst=l_suppkey) pairs of orders ⋈ lineitem. Callers place their own
    localCheckpoint."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    return (o.join(li, o["o_orderkey"] == li["l_orderkey"])
             .select(F.col("o_custkey").alias("src"),
                     F.col("l_suppkey").alias("dst"))
             .distinct())


def _pagerank_oracle() -> str:
    head = f"""
WITH edges AS (
  SELECT DISTINCT o_custkey AS src, l_suppkey AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
nodes AS (
  SELECT 'c' AS kind, c_custkey AS id FROM customer
  UNION ALL
  SELECT 's' AS kind, s_suppkey AS id FROM supplier
),
nn AS (SELECT count(*) AS n FROM nodes),
r0 AS (
  SELECT kind, id, {_S} // (SELECT n FROM nn) AS r FROM nodes
)"""
    iters = []
    for k in range(1, _ITERS + 1):
        p = k - 1
        iters.append(f""",
contrib{k} AS (
  SELECT e.dst AS id, sum((850 * r.r) // (1000 * d.deg)) AS c
  FROM edges e
  JOIN r{p} r ON r.kind = 'c' AND r.id = e.src
  JOIN deg d ON d.src = e.src
  GROUP BY 1
),
dang{k} AS (
  SELECT coalesce(sum((850 * r.r) // 1000), 0) AS dm
  FROM r{p} r LEFT JOIN deg d ON r.kind = 'c' AND d.src = r.id
  WHERE r.kind = 's' OR d.src IS NULL
),
r{k} AS (
  SELECT r.kind, r.id,
         (150 * {_S}) // (1000 * (SELECT n FROM nn))
           + (SELECT dm FROM dang{k}) // (SELECT n FROM nn)
           + coalesce(c.c, 0) AS r
  FROM r{p} r LEFT JOIN contrib{k} c ON r.kind = 's' AND r.id = c.id
)""")
    tail = f"""
SELECT kind, id, CAST(r AS BIGINT) AS rank,
       round(CAST(r AS DOUBLE) / {_S}.0, 8) AS prob
FROM r{_ITERS}
"""
    return head + "".join(iters) + tail


@query("graph_pagerank", oracle=_pagerank_oracle())
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (d=0.85, {iters} fixed iterations) over the bipartite
    customer→supplier purchase graph, in exact integer arithmetic.

    Node set = ALL customers and suppliers (isolated nodes included so N
    is well-defined); edges = distinct (custkey, suppkey) purchase
    pairs. Suppliers are sinks and inactive customers have no out-edges,
    so the dangling-mass redistribution term is exercised for real:
    r'(v) = (1-d)/N + dangling/N + d·Σ r(u)/deg(u), every term floored
    in 1e-12-scaled integer space.

    Plan: per iteration one edges⋈deg⋈ranks equi-join feeding a
    map-combined groupBy(dst) — the only |E|-sized shuffle — plus a
    rank-sized anti-join for the dangling sum; N and the dangling mass
    ride as 1-row broadcast crossJoins (no driver collect). Edges and
    degrees are localCheckpointed once and reused across iterations, so
    the orders⋈lineitem join runs exactly once.
    """.format(iters=_ITERS)
    edges = _purchase_edges(spark, sf_dir)
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    # attach out-degree to edges ONCE — the loop then only joins ranks
    edges_deg = edges.join(deg, "src").localCheckpoint(eager=False)
    cust = table(spark, sf_dir, "customer").select(
        F.lit("c").alias("kind"), F.col("c_custkey").alias("id"))
    supp = table(spark, sf_dir, "supplier").select(
        F.lit("s").alias("kind"), F.col("s_suppkey").alias("id"))
    nodes = cust.unionByName(supp)
    nn = nodes.agg(F.count("*").alias("n"))
    # the dangling SET is static (suppliers + edge-less customers); only
    # its rank mass changes per iteration — flag it once, no anti-join
    # inside the loop
    r = (nodes.join(deg, nodes["id"] == deg["src"], "left")
              .withColumn("dang",
                          (F.col("kind") == "s") | F.col("src").isNull())
              .drop("src", "deg")
              .crossJoin(F.broadcast(nn))
              .withColumn("r", F.expr(f"{_S} div n")))
    # NOT checkpointed per iteration, deliberately (round-9 A/B,
    # interleaved, min-of-3: unchecked 3.78 s vs checkpointed 4.58 s at
    # sf0.1): the rank table is referenced 3× per iteration, but every
    # duplicate subtree is salvaged by exchange reuse here, and the 4
    # extra checkpoint materializations cost more than the duplicated
    # projections they remove — the opposite verdict from graph_hits,
    # whose 2^(2·iters) blowup exchange reuse does NOT contain.
    for _ in range(_ITERS):
        cr = (r.filter(F.col("kind") == "c")
               .select(F.col("id").alias("src"), F.col("r").alias("ru")))
        contrib = (edges_deg.join(cr, "src")
                            .groupBy("dst")
                            .agg(F.sum(F.expr("(850 * ru) div (1000 * deg)"))
                                  .alias("c")))
        dm = r.filter("dang").agg(
            F.coalesce(F.sum(F.expr("(850 * r) div 1000")), F.lit(0))
             .alias("dm"))
        r = (r.select("kind", "id", "n", "dang")
              .join(contrib,
                    (F.col("kind") == "s") & (F.col("id") == F.col("dst")),
                    "left")
              .crossJoin(F.broadcast(dm))
              .select("kind", "id", "n", "dang",
                      (F.expr(f"(150 * {_S}) div (1000 * n)")
                       + F.expr("dm div n")
                       + F.coalesce(F.col("c"), F.lit(0))).alias("r")))
    return r.select(
        "kind", "id", F.col("r").alias("rank"),
        F.round(F.col("r").cast("double") / F.lit(float(_S)), 8)
         .alias("prob"))


@query("graph_bfs_hops", oracle="""
WITH edges AS (
  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
seed AS (
  SELECT s_suppkey AS id
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = 'GERMANY'
),
h1 AS (
  SELECT DISTINCT e.c AS id FROM edges e JOIN seed ON e.s = seed.id
),
h2 AS (
  SELECT DISTINCT e.s AS id FROM edges e JOIN h1 ON e.c = h1.id
  WHERE e.s NOT IN (SELECT id FROM seed)
),
h3 AS (
  SELECT DISTINCT e.c AS id FROM edges e JOIN h2 ON e.s = h2.id
  WHERE e.c NOT IN (SELECT id FROM h1)
)
SELECT 's' AS kind, id, 0 AS dist FROM seed
UNION ALL SELECT 'c' AS kind, id, 1 AS dist FROM h1
UNION ALL SELECT 's' AS kind, id, 2 AS dist FROM h2
UNION ALL SELECT 'c' AS kind, id, 3 AS dist FROM h3
""")
def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-hop BFS distance (≤3) from German suppliers through the
    undirected bipartite purchase graph: hop 1 = their customers, hop 2
    = other suppliers those customers also use, hop 3 = those suppliers'
    other customers — the supply-chain blast-radius question.

    The bipartite structure makes the min-distance exact with one
    exclusion per hop (even hops are suppliers, odd hops customers, so a
    node can only reappear two hops later): frontier(k+1) =
    distinct(neighbors(frontier(k))) anti-join frontier(k-1).

    Plan: each hop is a frontier⋈edges equi-join + distinct + a
    frontier-sized anti-join — linear in touched edges, the standard
    distributed BFS step. The edge list is localCheckpointed once;
    hops are a fixed constant so lineage is statically bounded."""
    edges = (_purchase_edges(spark, sf_dir).toDF("c", "s")
             .localCheckpoint(eager=False))
    nation = table(spark, sf_dir, "nation")
    supp = table(spark, sf_dir, "supplier")
    seed = (supp.join(nation, supp["s_nationkey"] == nation["n_nationkey"])
                .filter(F.col("n_name") == "GERMANY")
                .select(F.col("s_suppkey").alias("id")))
    h1 = (edges.join(F.broadcast(seed), edges["s"] == seed["id"])
               .select(F.col("c").alias("id")).distinct())
    h2 = (edges.join(h1, edges["c"] == h1["id"])
               .select(F.col("s").alias("id")).distinct()
               .join(F.broadcast(seed), "id", "left_anti"))
    h3 = (edges.join(h2, edges["s"] == h2["id"])
               .select(F.col("c").alias("id")).distinct()
               .join(h1, "id", "left_anti"))
    lvl = [seed, h1, h2, h3]
    kinds = ["s", "c", "s", "c"]
    out = None
    for dist, (df, kind) in enumerate(zip(lvl, kinds)):
        part = df.select(F.lit(kind).alias("kind"), "id",
                         F.lit(dist).alias("dist"))
        out = part if out is None else out.unionByName(part)
    return out


_SSSP_K = 4


def _sssp_oracle() -> str:
    head = """
WITH ew AS (
  SELECT o_custkey AS c, l_suppkey AS s,
         CAST(min(l_quantity) AS BIGINT) AS w
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  GROUP BY 1, 2
),
eds AS (
  SELECT c * 2 AS u, s * 2 + 1 AS v, w FROM ew
  UNION ALL
  SELECT s * 2 + 1, c * 2, w FROM ew
),
r0 AS (
  SELECT s_suppkey * 2 + 1 AS id, CAST(0 AS BIGINT) AS dist
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = 'GERMANY'
)"""
    iters = []
    for k in range(1, _SSSP_K + 1):
        p = k - 1
        iters.append(f""",
r{k} AS (
  SELECT id, min(dist) AS dist FROM (
    SELECT id, dist FROM r{p}
    UNION ALL
    SELECT e.v AS id, r.dist + e.w AS dist
    FROM r{p} r JOIN eds e ON e.u = r.id
  ) GROUP BY id
)""")
    tail = f"""
SELECT CASE WHEN id % 2 = 0 THEN 'c' ELSE 's' END AS kind,
       id // 2 AS node_id, dist
FROM r{_SSSP_K}
"""
    return head + "".join(iters) + tail


@query("graph_sssp_weighted", oracle=_sssp_oracle())
def graph_sssp_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted single-source (multi-seed) shortest paths over the
    undirected bipartite purchase graph — the cheapest-route sibling of
    `graph_bfs_hops`' min-HOP search: edge cost = the minimum order
    quantity ever shipped on that (customer, supplier) relationship
    (integral, so distances are exact bigints in both engines), seeds =
    German suppliers at distance 0, {k} Bellman-Ford rounds (distances
    over paths of <= {k} edges — bounded-radius SSSP, the form a
    cluster actually runs; unbounded SSSP is the same loop driven to
    fixpoint).

    The Spark loop is `operators/graphalgo.py::sssp_bounded` —
    DELTA-frontier Bellman-Ford (each round relaxes only edges leaving
    nodes whose distance IMPROVED last round; after k rounds provably
    identical to the oracle's k unrolled full relaxation sweeps),
    property-gated against pure-Python Bellman-Ford on adversarial
    random graphs. Node ids fold the bipartite keyspaces as 2k / 2k+1
    so every join is a plain bigint equi-join.""".format(k=_SSSP_K)
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    ew = (o.join(li, o["o_orderkey"] == li["l_orderkey"])
           .groupBy(F.col("o_custkey").alias("c"),
                    F.col("l_suppkey").alias("s"))
           .agg(F.min("l_quantity").cast("long").alias("w")))
    fwd = ew.select((F.col("c") * 2).alias("u"),
                    (F.col("s") * 2 + 1).alias("v"), "w")
    rev = ew.select((F.col("s") * 2 + 1).alias("u"),
                    (F.col("c") * 2).alias("v"), "w")
    eds = fwd.unionByName(rev).localCheckpoint(eager=False)
    nation = table(spark, sf_dir, "nation")
    supp = table(spark, sf_dir, "supplier")
    seeds = (supp.join(nation, supp["s_nationkey"] == nation["n_nationkey"])
                 .filter(F.col("n_name") == "GERMANY")
                 .select((F.col("s_suppkey") * 2 + 1).alias("id"),
                         F.lit(0).cast("long").alias("dist")))
    from ..operators.graphalgo import sssp_bounded
    dist = sssp_bounded(eds, seeds, _SSSP_K)
    return dist.select(
        F.when(F.col("id") % 2 == 0, "c").otherwise("s").alias("kind"),
        F.expr("id div 2").alias("node_id"), "dist")


@query("graph_triangles", oracle="""
WITH co AS (
  SELECT s1, s2, count(*) AS support
  FROM (
    SELECT DISTINCT a.l_orderkey, a.l_suppkey AS s1, b.l_suppkey AS s2
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
  ) p
  GROUP BY s1, s2
),
edges AS (SELECT s1, s2 FROM co WHERE support >= 5),
tri AS (
  SELECT e1.s1 AS a, e1.s2 AS b, e2.s2 AS c
  FROM edges e1
  JOIN edges e2 ON e2.s1 = e1.s2
  JOIN edges e3 ON e3.s1 = e1.s1 AND e3.s2 = e2.s2
)
SELECT id, CAST(count(*) AS BIGINT) AS n_tri
FROM (
  SELECT a AS id FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
) t
GROUP BY id
""")
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-supplier triangle counts in the co-purchase graph (suppliers
    adjacent when they co-supply >= 5 distinct orders) — the clustering
    signal behind community detection and local clustering coefficients.

    Edge construction never self-joins the fact table: lineitem is
    aggregated ONCE into per-order supplier sets (orders have a few
    lineitems, so sets are tiny), pairs explode from the sorted array
    (|order|^2 bounded by order width, not corpus size), and the
    support filter keeps the projection sparse — the guard that keeps a
    projected co-occurrence graph from going quadratic at 100 TB.

    Triangles enumerate with the DEGREE-ORIENTATION trick
    (`operators/graphalgo.py::triangle_counts`, brute-force
    property-gated on adversarial random graphs) — (each
    undirected edge directed from its lower-(degree, id) endpoint, two
    out-wedge joins + one closing equi-join): every triangle is produced
    exactly once and the wedge count is Sum(out_deg^2) = O(m^1.5)
    instead of Sum(deg^2), which is what makes triangle counting
    feasible when the projection has hubs. The oracle is the naive
    a<b<c three-way self-join — same triangle set, no orientation."""
    from ..operators.graphalgo import triangle_counts
    li = table(spark, sf_dir, "lineitem")
    sets = (li.groupBy("l_orderkey")
              .agg(F.sort_array(F.collect_set("l_suppkey")).alias("ss")))
    pairs = sets.select(F.expr(
        "explode(flatten(transform(ss, (x, i) -> "
        "transform(slice(ss, i + 2, size(ss)), "
        "y -> struct(x AS s1, y AS s2))))) AS p"))
    edges = (pairs.select("p.s1", "p.s2")
                  .groupBy("s1", "s2").agg(F.count("*").alias("support"))
                  .filter(F.col("support") >= 5)
                  .select("s1", "s2")
                  .localCheckpoint(eager=False))
    return triangle_counts(edges)


@query("graph_lpa_communities", oracle="""
WITH e0 AS (
  SELECT DISTINCT o_custkey * 2 AS u, l_suppkey * 2 + 1 AS v
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
edges AS (
  SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0
),
l0 AS (SELECT DISTINCT u AS node, u AS label FROM edges),
r1 AS (
  SELECT node, label FROM (
    SELECT e.u AS node, l.label, count(*) AS cnt,
           row_number() OVER (PARTITION BY e.u
                              ORDER BY count(*) DESC, l.label) AS rn
    FROM edges e JOIN l0 l ON e.v = l.node GROUP BY 1, 2)
  WHERE rn = 1
),
r2 AS (
  SELECT node, label FROM (
    SELECT e.u AS node, l.label, count(*) AS cnt,
           row_number() OVER (PARTITION BY e.u
                              ORDER BY count(*) DESC, l.label) AS rn
    FROM edges e JOIN r1 l ON e.v = l.node GROUP BY 1, 2)
  WHERE rn = 1
),
r3 AS (
  SELECT node, label FROM (
    SELECT e.u AS node, l.label, count(*) AS cnt,
           row_number() OVER (PARTITION BY e.u
                              ORDER BY count(*) DESC, l.label) AS rn
    FROM edges e JOIN r2 l ON e.v = l.node GROUP BY 1, 2)
  WHERE rn = 1
)
SELECT CASE WHEN node % 2 = 0 THEN 'c' ELSE 's' END AS kind,
       node // 2 AS id, CAST(label AS BIGINT) AS community
FROM r3
""")
def graph_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by SYNCHRONOUS label propagation over the
    bipartite customer-supplier purchase graph, exactly 3 rounds
    (Raghavan et al. 2007 made deterministic): every node starts as
    its own label, each round it adopts the MODE of its neighbors'
    labels with ties broken by minimum label — the async/random
    variants converge faster but are irreproducible; fixing sync
    rounds + total-order tie-breaks makes the partition engine-exact
    and lets the oracle UNROLL the same three rounds as chained CTEs
    (the iterative-vs-unrolled discipline of graph_sssp_weighted).
    Communities here group customers with their shared supplier
    neighborhoods — the co-purchase market segmentation CC cannot
    give (CC would collapse the near-connected graph to one blob;
    LPA's majority dynamics find dense cores). Node ids disambiguate
    the bipartite sides by parity (cust*2 / supp*2+1). Plan per
    round: one edge-label equi-join + a (node, label)-keyed count +
    a node-keyed max(struct(cnt, -label)) hash aggregate — the
    argmax-with-min-tiebreak as a partial-combinable aggregate
    instead of a row_number sort window (no per-round sort exchange,
    map-side combine shrinks the label frame before the shuffle);
    all shuffles on graph-sized keys, round count FIXED at 3 so the
    plan depth is static."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    e0 = (o.join(li, o.o_orderkey == li.l_orderkey)
           .select((F.col("o_custkey") * 2).alias("u"),
                   (F.col("l_suppkey") * 2 + 1).alias("v"))
           .distinct())
    edges = (e0.unionByName(e0.select(F.col("v").alias("u"),
                                      F.col("u").alias("v")))
               .localCheckpoint(eager=False))
    labels = edges.select(F.col("u").alias("node")).distinct() \
                  .withColumn("label", F.col("node"))
    for _ in range(3):
        # max cnt, then MIN label on ties == max of (cnt, -label):
        # struct ordering gives the mode-with-min-tiebreak without a
        # sort window (labels are nonneg node ids, negation is safe)
        labels = (edges.join(labels.withColumnRenamed("node", "v"), "v")
                       .groupBy(F.col("u").alias("node"), "label")
                       .agg(F.count("*").alias("cnt"))
                       .groupBy("node")
                       .agg(F.max(F.struct(
                           F.col("cnt"),
                           (-F.col("label")).alias("neg"))).alias("m"))
                       .select("node", (-F.col("m.neg")).alias("label")))
    return labels.select(
        F.when(F.col("node") % 2 == 0, "c").otherwise("s").alias("kind"),
        F.expr("node div 2").alias("id"),
        F.col("label").cast("long").alias("community"))


_HITS_ITERS = 3


def _hits_oracle() -> str:
    head = """
WITH edges AS (
  SELECT DISTINCT o_custkey AS src, l_suppkey AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
h0 AS (SELECT DISTINCT src, CAST(1000000 AS BIGINT) AS h FROM edges)"""
    iters = []
    for k in range(1, _HITS_ITERS + 1):
        p = k - 1
        iters.append(f""",
araw{k} AS (
  SELECT e.dst, CAST(sum(h.h) AS BIGINT) AS a
  FROM edges e JOIN h{p} h ON h.src = e.src GROUP BY 1
),
amax{k} AS (SELECT max(a) AS m FROM araw{k}),
a{k} AS (
  SELECT dst, CAST(CAST(1000000 AS HUGEINT) * a
              // (SELECT m FROM amax{k}) AS BIGINT) AS a
  FROM araw{k}
),
hraw{k} AS (
  SELECT e.src, CAST(sum(a.a) AS BIGINT) AS h
  FROM edges e JOIN a{k} a ON a.dst = e.dst GROUP BY 1
),
hmax{k} AS (SELECT max(h) AS m FROM hraw{k}),
h{k} AS (
  SELECT src, CAST(CAST(1000000 AS HUGEINT) * h
              // (SELECT m FROM hmax{k}) AS BIGINT) AS h
  FROM hraw{k}
)""")
    tail = f"""
SELECT 'hub' AS kind, src AS id, h AS score_e6 FROM h{_HITS_ITERS}
UNION ALL
SELECT 'auth' AS kind, dst AS id, a AS score_e6 FROM a{_HITS_ITERS}
"""
    return head + "".join(iters) + tail


@query("graph_hits", oracle=_hits_oracle())
def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (Kleinberg hubs-and-authorities, 3 fixed iterations) over
    the bipartite customer→supplier purchase graph in exact integer
    arithmetic: authority(s) = Σ hub(c) over in-edges, hub(c) =
    Σ authority(s) over out-edges, each half-step renormalized to the
    1e6 grid by INTEGER division by the current maximum (max-norm
    replaces the usual L2 norm — no sqrt, engine-exact, same fixpoint
    direction), the 1e6·raw product routed through decimal/HUGEINT so
    no degree scale overflows. The customers buying from many strong
    suppliers surface as hubs, the suppliers bought by many strong
    hubs as authorities — PageRank's mutual-reinforcement complement
    on the same edge set. Plan: per half-iteration ONE edge-keyed
    equi-join + map-combined aggregate (the only |E|-sized work) and
    a 1-row max broadcast; edges localCheckpointed once, the
    orders⋈lineitem build runs exactly once."""
    edges = _purchase_edges(spark, sf_dir).localCheckpoint(eager=False)
    h = edges.select("src").distinct() \
             .withColumn("h", F.lit(1000000).cast("long"))
    # Each raw half-step frame is consumed TWICE (its own max-norm
    # aggregate + the normalized frame) and feeds the next half-step —
    # without truncation the final plan tree duplicates the edge-join
    # subtree 2^(2·iters) ≈ 64×, which round 9 measured as a
    # 566-shuffle-Exchange initial plan and ~10 s of re-executed
    # subtrees at sf0.1 (git show 7f9c6f7:plans/r09/graph_hits_before.txt).
    # One localCheckpoint per half-step (the dedup/cluster.py iterative
    # discipline) keeps the plan linear in the iteration count; the
    # integer arithmetic is untouched, so the fixpoint values are
    # bit-identical.
    for _ in range(_HITS_ITERS):
        araw = (edges.join(h, "src")
                .groupBy("dst").agg(F.sum("h").cast("long").alias("a"))
                .localCheckpoint(eager=False))
        amax = araw.agg(F.max("a").alias("m"))
        a = (araw.crossJoin(F.broadcast(amax))
             .select("dst", F.expr(
                 "CAST(CAST(1000000 AS DECIMAL(38,0)) * a div m "
                 "AS BIGINT)").alias("a")))
        hraw = (edges.join(a, "dst")
                .groupBy("src").agg(F.sum("a").cast("long").alias("h"))
                .localCheckpoint(eager=False))
        hmax = hraw.agg(F.max("h").alias("m"))
        h = (hraw.crossJoin(F.broadcast(hmax))
             .select("src", F.expr(
                 "CAST(CAST(1000000 AS DECIMAL(38,0)) * h div m "
                 "AS BIGINT)").alias("h")))
    hubs = h.select(F.lit("hub").alias("kind"),
                    F.col("src").alias("id"),
                    F.col("h").alias("score_e6"))
    auths = a.select(F.lit("auth").alias("kind"),
                     F.col("dst").alias("id"),
                     F.col("a").alias("score_e6"))
    return hubs.unionByName(auths)


_KCORE_K = 10
_KCORE_ROUNDS = 4


def _kcore_oracle() -> str:
    head = """
WITH e0 AS (
  SELECT DISTINCT o_custkey AS src, l_suppkey AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
base AS (
  SELECT 'c' AS kind, src AS id FROM e0
  UNION
  SELECT 's' AS kind, dst AS id FROM e0
)"""
    rounds = []
    for r in range(1, _KCORE_ROUNDS + 1):
        p = r - 1
        rounds.append(f""",
dc{r} AS (SELECT src, count(*) AS d FROM e{p} GROUP BY 1),
ds{r} AS (SELECT dst, count(*) AS d FROM e{p} GROUP BY 1),
e{r} AS (
  SELECT e.src, e.dst
  FROM e{p} e
  JOIN dc{r} ON dc{r}.src = e.src AND dc{r}.d >= {_KCORE_K}
  JOIN ds{r} ON ds{r}.dst = e.dst AND ds{r}.d >= {_KCORE_K}
)""")
    n = _KCORE_ROUNDS
    tail = f""",
fdc AS (SELECT src, count(*) AS d FROM e{n} GROUP BY 1),
fds AS (SELECT dst, count(*) AS d FROM e{n} GROUP BY 1),
fin AS (
  SELECT 'c' AS kind, src AS id, d FROM fdc WHERE d >= {_KCORE_K}
  UNION ALL
  SELECT 's' AS kind, dst AS id, d FROM fds WHERE d >= {_KCORE_K}
)
SELECT b.kind, b.id,
       CAST(coalesce(f.d, 0) AS BIGINT) AS core_deg,
       (f.id IS NOT NULL) AS in_core
FROM base b LEFT JOIN fin f ON f.kind = b.kind AND f.id = b.id
"""
    return head + "".join(rounds) + tail


@query("graph_kcore", oracle=_kcore_oracle())
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peeling (k=10, 4 synchronous rounds) of the bipartite
    purchase graph: repeatedly delete every node whose CURRENT degree
    is below k — what survives is the densely-interconnected trading
    core, the standard preprocessing for community mining and the
    graph analogue of dropping long-tail users before co-occurrence
    statistics. Synchronous bounded rounds keep it deterministic and
    oracle-unrollable (the graph_lpa_communities discipline); 4
    rounds reach the fixpoint on this graph — nodes peeled later
    cascade from earlier removals, which the planted-cascade test
    exercises. Per round: two degree aggregates + two semi-join-shaped
    filters on the shrinking edge set (each round's edges
    localCheckpointed so lineage doesn't stack); output every node of
    the ORIGINAL graph with its final core degree and membership
    flag."""
    e = _purchase_edges(spark, sf_dir).localCheckpoint(eager=False)
    base = (e.select(F.lit("c").alias("kind"), F.col("src").alias("id"))
            .union(e.select(F.lit("s"), F.col("dst")))
            .distinct().localCheckpoint(eager=False))
    for _ in range(_KCORE_ROUNDS):
        dc = (e.groupBy("src").agg(F.count("*").alias("d"))
               .filter(F.col("d") >= _KCORE_K).drop("d"))
        ds = (e.groupBy("dst").agg(F.count("*").alias("d"))
               .filter(F.col("d") >= _KCORE_K).drop("d"))
        e = e.join(dc, "src").join(ds, "dst").localCheckpoint(eager=False)
    fdc = (e.groupBy("src").agg(F.count("*").alias("d"))
            .filter(F.col("d") >= _KCORE_K)
            .select(F.lit("c").alias("kind"), F.col("src").alias("id"),
                    "d"))
    fds = (e.groupBy("dst").agg(F.count("*").alias("d"))
            .filter(F.col("d") >= _KCORE_K)
            .select(F.lit("s").alias("kind"), F.col("dst").alias("id"),
                    "d"))
    fin = fdc.unionByName(fds)
    return (base.join(fin, ["kind", "id"], "left")
            .select("kind", "id",
                    F.coalesce("d", F.lit(0)).cast("long")
                     .alias("core_deg"),
                    F.col("d").isNotNull().alias("in_core")))
