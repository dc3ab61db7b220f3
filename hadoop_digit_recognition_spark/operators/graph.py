"""Graph analytics over relational-derived edge lists.

The reference has no graph operators (SURVEY.md §2.5 declared-absent) —
these extend the engine the same way the connected-components family in
dedup.py does: the ITERATIVE DataFrame loop is the production shape (one
keyed equi-join + aggregate per round, the Pregel-on-relational pattern),
and the unrolled-CTE SQL twin is the declarative oracle the driver can
hash-check.

PageRank at 100 TB: the edge list is the big table; each iteration is
  ranks(join on src)edges -> groupBy(dst) sum
i.e. one shuffle on src + one on dst per iteration. The rank vector is
node-sized (small side) — Spark broadcasts it against the edge fact, so
iterations never shuffle the edges twice. Here nodes = 25 nations, edges =
nation->nation trade flows aggregated from lineitem x orders (the
aggregation itself is the heavy part and runs once, fact-sized).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..registry import query
from ..tables import load

_DAMP = 0.85
_NITER = 3

# nation -> nation trade edges, weight = lineitem count (bigint so both
# engines aggregate exactly; rank arithmetic is then the only float path).
_EDGES_SQL = """
  SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
         count(*) AS w
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  GROUP BY s.s_nationkey, c.c_nationkey
"""

_PAGERANK_ORACLE = f"""
WITH edges AS ({_EDGES_SQL}),
nodes AS (SELECT n_nationkey AS node FROM nation),
outw AS (SELECT src, sum(w) AS ow FROM edges GROUP BY src),
nn AS (SELECT cast(count(*) AS DOUBLE) AS n FROM nodes),
r0 AS (SELECT node, 1.0 / nn.n AS pr FROM nodes, nn),
r1 AS (
  SELECT nodes.node,
         (1 - {_DAMP}) / nn.n
         + {_DAMP} * coalesce(sum(r0.pr * e.w / outw.ow), 0) AS pr
  FROM nodes CROSS JOIN nn
  LEFT JOIN edges e ON e.dst = nodes.node
  LEFT JOIN r0 ON r0.node = e.src
  LEFT JOIN outw ON outw.src = e.src
  GROUP BY nodes.node, nn.n
),
r2 AS (
  SELECT nodes.node,
         (1 - {_DAMP}) / nn.n
         + {_DAMP} * coalesce(sum(r1.pr * e.w / outw.ow), 0) AS pr
  FROM nodes CROSS JOIN nn
  LEFT JOIN edges e ON e.dst = nodes.node
  LEFT JOIN r1 ON r1.node = e.src
  LEFT JOIN outw ON outw.src = e.src
  GROUP BY nodes.node, nn.n
),
r3 AS (
  SELECT nodes.node,
         (1 - {_DAMP}) / nn.n
         + {_DAMP} * coalesce(sum(r2.pr * e.w / outw.ow), 0) AS pr
  FROM nodes CROSS JOIN nn
  LEFT JOIN edges e ON e.dst = nodes.node
  LEFT JOIN r2 ON r2.node = e.src
  LEFT JOIN outw ON outw.src = e.src
  GROUP BY nodes.node, nn.n
)
SELECT node, round(pr, 6) AS pagerank FROM r3
"""


@query("graph_pagerank_nations", oracle=_PAGERANK_ORACLE)
def graph_pagerank_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank (damping 0.85, 3 iterations, simplified — no
    dangling-mass redistribution) over the nation->nation trade graph.

    The Spark side runs the REAL iterative loop: the rank vector joins the
    (pre-aggregated, normalized) edge list on src and re-aggregates on
    dst each round. Edge weights are bigint counts so the only floating
    arithmetic is the rank propagation itself, identical on both engines;
    the output rounds to 6 digits (rank magnitudes ~1e-2, summands ≤25).
    Reference analog: the epoch loop shape of driver.java:64-287 — an
    iterative fixpoint the engine expresses as repeated keyed joins."""
    for t in ("lineitem", "orders", "customer", "supplier", "nation"):
        load(spark, sf_dir, t).createOrReplaceTempView(t)

    edges = spark.sql(_EDGES_SQL)
    outw = edges.groupBy("src").agg(F.sum("w").alias("ow"))
    # normalized transition weight — computed once, persisted node²-sized
    trans = (edges.join(outw, "src")
             .select("src", "dst", (F.col("w") / F.col("ow")).alias("p")))
    # Materialize NOW: the returned DataFrame is lazy, so a persist alone
    # is a no-op (nothing would populate the cache before the unrolled
    # iterations re-derive the fact-sized edge aggregation 3x). The
    # cached piece is node^2-sized (<= nations^2 rows) and lives for the
    # session — the right trade for an iterative loop over a tiny graph.
    trans.persist()
    trans.count()
    nodes = spark.table("nation").select(
        F.col("n_nationkey").alias("node"))
    n = nodes.count()

    ranks = nodes.withColumn("pr", F.lit(1.0 / n))
    for _ in range(_NITER):
        contrib = (trans.join(ranks, trans.src == ranks.node)
                   .select(trans.dst.alias("node"),
                           (F.col("pr") * F.col("p")).alias("c")))
        ranks = (nodes.join(contrib.groupBy("node").agg(F.sum("c").alias("s")),
                            "node", "left")
                 .select("node",
                         (F.lit((1 - _DAMP) / n)
                          + F.lit(_DAMP) * F.coalesce(F.col("s"), F.lit(0.0))
                          ).alias("pr")))
    return ranks.select("node", F.round("pr", 6).alias("pagerank"))


_BFS_K = 3       # keep each node's top-K strongest outgoing edges
_BFS_MAXD = 6    # hop bound (both engines stop here -> deterministic)
_BFS_SRC = 0     # BFS source nation

# Shared sparsified trade-graph derivation (top-_BFS_K strongest
# out-edges per nation) — ONE definition for the BFS / harmonic /
# betweenness family in BOTH engines, so the edge recipe cannot drift
# between an operator and its oracle (the _BUCKETS_2T precedent).
_SPARSE_EDGES_CTES = f"""ew AS (
  SELECT s.s_nationkey AS src, c.c_nationkey AS dst, count(*) AS w
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  WHERE s.s_nationkey <> c.c_nationkey
  GROUP BY s.s_nationkey, c.c_nationkey
),
e AS (SELECT src, dst FROM (
        SELECT src, dst,
               row_number() OVER (PARTITION BY src ORDER BY w DESC, dst) AS rn
        FROM ew) WHERE rn <= {_BFS_K}),"""


def _sparsified_edges(spark: SparkSession) -> DataFrame:
    """(src, dst) top-_BFS_K out-edges, persisted + materialized — the
    Spark twin of _SPARSE_EDGES_CTES; callers must have registered the
    lineitem/orders/customer/supplier temp views."""
    from pyspark.sql import Window as W
    ew = spark.sql("""
      SELECT s.s_nationkey AS src, c.c_nationkey AS dst, count(*) AS w
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      WHERE s.s_nationkey <> c.c_nationkey
      GROUP BY s.s_nationkey, c.c_nationkey""")
    rn = F.row_number().over(
        W.partitionBy("src").orderBy(F.desc("w"), F.asc("dst")))
    e = (ew.withColumn("rn", rn).filter(F.col("rn") <= _BFS_K)
         .select("src", "dst"))
    e.persist()
    e.count()
    return e


_BFS_ORACLE = f"""
WITH RECURSIVE {_SPARSE_EDGES_CTES}
bfs(node, d) AS (
  SELECT {_BFS_SRC}, 0
  UNION
  SELECT e.dst, bfs.d + 1 FROM bfs JOIN e ON e.src = bfs.node
  WHERE bfs.d < {_BFS_MAXD}
)
SELECT CAST(node AS BIGINT) AS node, CAST(min(d) AS BIGINT) AS hops
FROM bfs GROUP BY node
"""


@query("graph_bfs_hops", oracle=_BFS_ORACLE)
def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unweighted single-source shortest hops (BFS) over the sparsified
    trade graph: each nation keeps only its top-_BFS_K strongest outgoing
    edges (weight-relative, so the sparsification survives any scale
    factor — an absolute weight threshold would not), then min-hop
    distances from nation _BFS_SRC, bounded at _BFS_MAXD hops in BOTH
    engines so results are deterministic even on a graph with longer
    paths. The oracle is a recursive CTE; the engine runs the iterative
    frontier-relaxation loop — the same Pregel-on-relational shape as
    PageRank and connected components.

    Scale shape: the edge derivation is the fact-sized part and runs
    once; each of the _BFS_MAXD relaxation rounds is a node-keyed join +
    min-aggregate over the (node-sized) distance vector, with the sparse
    edge list on the broadcast side. At web scale the distance vector is
    the big table and edges shuffle-join on src — same loop, swapped
    build side."""
    for t in ("lineitem", "orders", "customer", "supplier"):
        load(spark, sf_dir, t).createOrReplaceTempView(t)

    e = _sparsified_edges(spark)  # persisted once; the loop re-reads it

    dist = spark.createDataFrame([(_BFS_SRC, 0)], "node bigint, hops bigint")
    for _ in range(_BFS_MAXD):
        # alias-qualify: dist's lineage contains e after round 1, so bare
        # column refs would be ambiguous self-join references
        nxt = (dist.alias("d").join(e.alias("g"),
                                    F.col("d.node") == F.col("g.src"))
               .select(F.col("g.dst").cast("bigint").alias("node"),
                       (F.col("d.hops") + 1).alias("hops")))
        # localCheckpoint cuts the union lineage each round — without it
        # the plan doubles per iteration (dist appears on both union
        # sides) and round 6 re-executes a 64-leaf tree. The state is
        # node-sized, the same budget as CC labels (dedup.py:761).
        dist = (dist.union(nxt).groupBy("node")
                .agg(F.min("hops").alias("hops"))
                .coalesce(1).localCheckpoint())
    return dist


@query("graph_degree_distribution", oracle="""
WITH e AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
),
cd AS (SELECT c, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY c),
sd AS (SELECT s, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY s)
SELECT 'customer' AS role, deg, CAST(count(*) AS BIGINT) AS n
FROM cd GROUP BY deg
UNION ALL
SELECT 'supplier' AS role, deg, CAST(count(*) AS BIGINT) AS n
FROM sd GROUP BY deg
""")
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the customer-supplier trade graph — the
    first diagnostic any graph pipeline runs (skew detection: a
    power-law hub list is what forces salting/two-phase aggregation in
    the downstream PageRank/CC jobs; reference has no graph surface at
    all, SURVEY.md §2.5).

    Edge derivation is one fact-dim equi-join + DISTINCT (keyed shuffle
    on the pair), then each side's degree is a keyed count and the
    histogram a second, degree-keyed count — every aggregate partial-
    aggregates map-side, and the histogram output is degree-range-sized.
    The union of the two role histograms evaluates as two independent
    branches over the SAME deduped edge set (Spark reuses the exchange
    under AQE)."""
    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem")
    e = (orders.join(lineitem,
                     orders.o_orderkey == lineitem.l_orderkey)
         .select(F.col("o_custkey").alias("c"),
                 F.col("l_suppkey").alias("s"))
         .distinct())

    def hist(keyed, role):
        deg = keyed.agg(F.count(F.lit(1)).alias("deg"))
        return (deg.groupBy("deg")
                .agg(F.count(F.lit(1)).alias("n"))
                .select(F.lit(role).alias("role"), "deg", "n"))

    return hist(e.groupBy("c"), "customer").unionAll(
        hist(e.groupBy("s"), "supplier"))


@query("graph_jaccard_link_prediction", oracle="""
WITH e AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
),
deg AS (SELECT c, count(*) AS d FROM e GROUP BY c),
com AS (
  SELECT a.c AS c1, b.c AS c2, count(*) AS common
  FROM e a JOIN e b ON a.p = b.p AND a.c < b.c
  GROUP BY a.c, b.c
),
j AS (
  SELECT c1, c2, common,
         round(common * 1.0 / (d1.d + d2.d - common), 6) AS jaccard
  FROM com JOIN deg d1 ON d1.c = c1 JOIN deg d2 ON d2.c = c2
),
r AS (
  SELECT c1, c2, common, jaccard,
         row_number() OVER (ORDER BY jaccard DESC, c1, c2) AS rnk
  FROM j
)
SELECT c1, c2, CAST(common AS BIGINT) AS common, jaccard,
       CAST(rnk AS BIGINT) AS rnk
FROM r WHERE rnk <= 50
""")
def graph_jaccard_link_prediction(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Link prediction by neighborhood similarity: the top-50 customer
    pairs most likely to behave alike, scored by Jaccard overlap of
    their co-purchased part sets (|N(a)∩N(b)| / |N(a)∪N(b)|, union via
    inclusion-exclusion on degrees) — the classic common-neighbors
    recommender baseline.

    Common-neighbor counting is the bucket self-equi-join on the shared
    part (cost Σ|part's customer list|², the sim_knn_graph shape —
    bounded by the co-purchase fan-out, never all customer pairs);
    degrees join in as a broadcast-able customer-sized aggregate. The
    final top-50 is orderBy().limit(50) — planned as
    TakeOrderedAndProject (per-partition heaps + driver merge of 50-row
    tops), NOT a global window, so no partition ever holds all candidate
    pairs; rnk is then derived by a row_number window over just the 50
    survivors (round-4 advisor fix: the previous global-window form
    moved every pair to one partition). Hub parts (bought by everyone)
    are the documented skew knob: drop parts with |customers| above a
    cap, exactly how common-neighbor systems prune stop-nodes at
    scale."""
    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem")
    e = (orders.join(lineitem,
                     orders.o_orderkey == lineitem.l_orderkey)
         .select(F.col("o_custkey").alias("c"),
                 F.col("l_partkey").alias("p"))
         .distinct())
    deg = e.groupBy("c").agg(F.count(F.lit(1)).alias("d"))
    a = e.select(F.col("c").alias("c1"), "p")
    b = e.select(F.col("c").alias("c2"), "p")
    com = (a.join(b, "p").filter(F.col("c1") < F.col("c2"))
           .groupBy("c1", "c2").agg(F.count(F.lit(1)).alias("common")))
    d1 = deg.select(F.col("c").alias("c1"), F.col("d").alias("deg1"))
    d2 = deg.select(F.col("c").alias("c2"), F.col("d").alias("deg2"))
    j = (com.join(d1, "c1").join(d2, "c2")
         .select("c1", "c2", "common",
                 F.round(F.col("common")
                         / (F.col("deg1") + F.col("deg2")
                            - F.col("common")), 6).alias("jaccard")))
    from pyspark.sql import Window as W
    top = j.orderBy(F.col("jaccard").desc(), "c1", "c2").limit(50)
    rnk = F.row_number().over(
        W.orderBy(F.col("jaccard").desc(), "c1", "c2"))
    return (top.withColumn("rnk", rnk.cast("bigint"))
            .select("c1", "c2", F.col("common").cast("bigint")
                    .alias("common"), "jaccard", "rnk"))


_LPA_ITER = 2


_LPA_ORACLE = f"""
WITH edges AS MATERIALIZED ({_EDGES_SQL}),
es AS (
  SELECT node, nbr, sum(w) AS w FROM (
    SELECT src AS node, dst AS nbr, w FROM edges WHERE src != dst
    UNION ALL
    SELECT dst AS node, src AS nbr, w FROM edges WHERE src != dst
  ) GROUP BY node, nbr
),
nodes AS (SELECT n_nationkey AS node FROM nation),
l0 AS (SELECT node, node AS lbl FROM nodes),
v1 AS (SELECT es.node, l0.lbl, sum(es.w) AS vw
       FROM es JOIN l0 ON l0.node = es.nbr GROUP BY es.node, l0.lbl),
w1 AS (SELECT node, lbl FROM (
         SELECT node, lbl,
                row_number() OVER (PARTITION BY node
                                   ORDER BY vw DESC, lbl) AS rn
         FROM v1) WHERE rn = 1),
l1 AS (SELECT nodes.node, coalesce(w1.lbl, nodes.node) AS lbl
       FROM nodes LEFT JOIN w1 ON w1.node = nodes.node),
v2 AS (SELECT es.node, l1.lbl, sum(es.w) AS vw
       FROM es JOIN l1 ON l1.node = es.nbr GROUP BY es.node, l1.lbl),
w2 AS (SELECT node, lbl FROM (
         SELECT node, lbl,
                row_number() OVER (PARTITION BY node
                                   ORDER BY vw DESC, lbl) AS rn
         FROM v2) WHERE rn = 1),
l2 AS (SELECT nodes.node, coalesce(w2.lbl, nodes.node) AS lbl
       FROM nodes LEFT JOIN w2 ON w2.node = nodes.node)
SELECT CAST(node AS BIGINT) AS node, CAST(lbl AS BIGINT) AS lbl FROM l2
"""


@query("graph_label_propagation", oracle=_LPA_ORACLE)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted synchronous label propagation (community detection) over
    the symmetrized nation trade graph: every node starts as its own
    label; each round it adopts the label with the LARGEST total edge
    weight among its neighbors (deterministic: integer vote sums, min
    label on ties), 2 unrolled rounds.

    Same iterative keyed-join shape as PageRank — labels join edges on
    the neighbor key, votes re-aggregate on the node key — so the 100 TB
    story is PageRank's: edge list pre-aggregated and persisted once,
    each round is one join + one keyed agg, nothing grows with iteration
    count except the unrolled lineage (checkpoint every ~10 rounds at
    real depth). The DuckDB oracle replays both rounds as unrolled CTEs
    with identical tie rules; its `edges` CTE is AS MATERIALIZED — the
    optimizer otherwise re-inlines the 4-table fact join at every
    reference through the unrolled rounds (measured 159s -> 1.9s at
    sf0.1; the equivalent Spark-side guard is the es.persist())."""
    from pyspark.sql import Window as W

    for t in ("lineitem", "orders", "customer", "supplier", "nation"):
        load(spark, sf_dir, t).createOrReplaceTempView(t)
    edges = spark.sql(_EDGES_SQL).filter(F.col("src") != F.col("dst"))
    es = (edges.select(F.col("src").alias("node"), F.col("dst").alias("nbr"), "w")
          .unionAll(edges.select(F.col("dst").alias("node"),
                                 F.col("src").alias("nbr"), "w"))
          .groupBy("node", "nbr").agg(F.sum("w").alias("w")))
    es.persist()
    es.count()  # materialize before the loop (the PageRank lesson)
    nodes = spark.table("nation").select(F.col("n_nationkey").alias("node"))

    labels = nodes.select("node", F.col("node").alias("lbl"))
    for _ in range(_LPA_ITER):
        votes = (es.join(labels.select(F.col("node").alias("nbr"), "lbl"),
                         "nbr")
                 .groupBy("node", "lbl").agg(F.sum("w").alias("vw")))
        rn = F.row_number().over(
            W.partitionBy("node").orderBy(F.desc("vw"), F.asc("lbl")))
        winner = (votes.withColumn("rn", rn).filter(F.col("rn") == 1)
                  .select("node", F.col("lbl").alias("new_lbl")))
        labels = (nodes.join(winner, "node", "left")
                  .select("node",
                          F.coalesce("new_lbl", F.col("node")).alias("lbl")))
    return labels.select(F.col("node").cast("bigint").alias("node"),
                         F.col("lbl").cast("bigint").alias("lbl"))


# k-core threshold for the duplicate-cluster coring pass.
KCORE_K = 2


def _kcore_oracle() -> str:
    from .dedup import _LSH_PAIRS_SQL
    return f"""
WITH {_LSH_PAIRS_SQL.lstrip()},
e0 AS (SELECT doc_a AS u, doc_b AS v FROM pairs
       UNION SELECT doc_b, doc_a FROM pairs),
d0 AS (SELECT u, count(*) AS d FROM e0 GROUP BY u),
k1 AS (SELECT u FROM d0 WHERE d >= {KCORE_K}),
e1 AS (SELECT e0.u, e0.v FROM e0
       JOIN k1 a ON a.u = e0.u JOIN k1 b ON b.u = e0.v),
d1 AS (SELECT u, count(*) AS d FROM e1 GROUP BY u),
k2 AS (SELECT u FROM d1 WHERE d >= {KCORE_K}),
e2 AS (SELECT e1.u, e1.v FROM e1
       JOIN k2 a ON a.u = e1.u JOIN k2 b ON b.u = e1.v),
d2 AS (SELECT u, count(*) AS d FROM e2 GROUP BY u)
SELECT u AS doc_id, CAST(d AS BIGINT) AS core_degree
FROM d2 WHERE d >= {KCORE_K}
"""


def _kcore_impl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-CORE DECOMPOSITION (2 unrolled peeling rounds, k=2) over the
    near-duplicate pair graph: repeatedly remove nodes of degree < k,
    keeping the tightly-knit duplicate communities — the template
    families that survive peeling are exactly the boilerplate clusters a
    single canonical-survivor pass underestimates (a chain of pairwise
    near-dups peels away; a clique of mirrored pages stays). Two rounds
    are unrolled for an oracle-exact fixed plan; the full fixpoint uses
    dedup_connected_components' driver-loop skeleton (each round = one
    degree aggregate + one semi-join, both keyed equi-shuffles — no
    windows, no pair blowup beyond the edge list itself).

    Scale: |edges| is the LSH candidate-pair volume (bounded by band
    collisions, not n^2); each peel round shuffles edges once on u and
    once on v. Peel rounds needed for full coreness is O(max core), but
    hygiene pipelines cap at k<=3 — the 2-round form IS the production
    query."""
    from .dedup import dedup_minhash_lsh, memo_register

    # The unrolled peel references each round's edge list twice (degree
    # + semi-join), so left lazy the LSH band join would re-execute
    # ~2^rounds times. Same cure as the CC loop: checkpoint each round;
    # AQE coalesces the tiny joins' shuffles down from the session
    # width. The peeled core edge list is memoized in the signatures'
    # weak-keyed session cache (clear_signature_cache evicts it), since
    # the peel is deterministic per (session, sf).
    def _build_core_edges():
        pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
        # non-eager checkpoints: the unroll is FIXED (no per-round
        # decision), so no round needs its own driver-blocking count —
        # execution folds into the first downstream action; each
        # round's RDD is cached, so the degree + two semi-join
        # references share one execution.
        e = (pairs.select(F.col("doc_a").alias("u"),
                          F.col("doc_b").alias("v"))
             .unionByName(pairs.select(F.col("doc_b").alias("u"),
                                       F.col("doc_a").alias("v")))
             .distinct().localCheckpoint(eager=False))
        for _ in range(2):
            deg = (e.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
                   .filter(F.col("d") >= KCORE_K).select("u"))
            e = (e.join(deg, "u", "semi")
                 .join(deg.withColumnRenamed("u", "v"), "v", "semi")
                 .localCheckpoint(eager=False))
        return e

    # memo_register (not memo_persist): the entry is checkpoint-backed —
    # its blocks already live in the block manager; an extra persist
    # would stack an InMemoryRelation layer on top of them.
    e = memo_register(spark, f"kcore_core_edges::{sf_dir}",
                      _build_core_edges)
    out = (e.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
           .filter(F.col("d") >= KCORE_K))
    return out.select(F.col("u").alias("doc_id"),
                      F.col("d").cast("bigint").alias("core_degree"))


def _register_kcore() -> None:
    query("graph_kcore_dup_clusters", oracle=_kcore_oracle())(_kcore_impl)


_register_kcore()


def _assortativity_oracle() -> str:
    from .dedup import _LSH_PAIRS_SQL
    return f"""
WITH {_LSH_PAIRS_SQL.lstrip()},
e AS (SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs),
deg AS (SELECT u, count(*) AS d FROM e GROUP BY u),
j AS (SELECT du.d AS x, dv.d AS y
      FROM e JOIN deg du ON du.u = e.u JOIN deg dv ON dv.u = e.v),
m AS (SELECT count(*) AS n, avg(x * 1.0) AS ax, avg(y * 1.0) AS ay,
             avg(x * x * 1.0) AS axx, avg(y * y * 1.0) AS ayy,
             avg(x * y * 1.0) AS axy
      FROM j)
SELECT CAST(n AS BIGINT) AS n_directed_edges,
       CASE WHEN (axx - ax * ax) > 0 AND (ayy - ay * ay) > 0
            THEN round((axy - ax * ay)
                       / sqrt((axx - ax * ax) * (ayy - ay * ay)), 6)
            END AS assortativity
FROM m
"""


def _assortativity_impl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEGREE ASSORTATIVITY of the near-duplicate pair graph: Pearson
    correlation of endpoint degrees over the directed edge list —
    positive means dup clusters are degree-homogeneous (template
    families of similar fan-out, peel cleanly under k-core), negative
    means hub-and-spoke (one canonical page with many stragglers,
    where canonical-survivor selection matters most). The same
    explicit-moment spelling as window_rolling_corr, but here every
    moment input is an INTEGER degree, so both engines' sums are exact
    and the statistic is bit-deterministic before the final rounding.
    Two keyed aggregates + two equi-joins on the edge list; 1-row
    output at any scale."""
    from .dedup import dedup_minhash_lsh

    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    e = (pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
         .unionByName(pairs.select(F.col("doc_b").alias("u"),
                                   F.col("doc_a").alias("v")))
         .distinct())
    deg = e.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    j = (e.join(deg.withColumnRenamed("u", "uu")
                .withColumnRenamed("d", "x"), F.col("u") == F.col("uu"))
         .join(deg.withColumnRenamed("u", "vv")
               .withColumnRenamed("d", "y"), F.col("v") == F.col("vv"))
         .select((F.col("x") * 1.0).alias("x"),
                 (F.col("y") * 1.0).alias("y")))
    m = j.agg(F.count(F.lit(1)).alias("n"),
              F.avg("x").alias("ax"), F.avg("y").alias("ay"),
              F.avg(F.col("x") * F.col("x")).alias("axx"),
              F.avg(F.col("y") * F.col("y")).alias("ayy"),
              F.avg(F.col("x") * F.col("y")).alias("axy"))
    varx = F.col("axx") - F.col("ax") * F.col("ax")
    vary = F.col("ayy") - F.col("ay") * F.col("ay")
    return m.select(
        F.col("n").cast("bigint").alias("n_directed_edges"),
        F.when((varx > 0) & (vary > 0),
               F.round((F.col("axy") - F.col("ax") * F.col("ay"))
                       / F.sqrt(varx * vary), 6)).alias("assortativity"))


def _register_assortativity() -> None:
    query("graph_assortativity", oracle=_assortativity_oracle())(
        _assortativity_impl)


_register_assortativity()


@query("graph_modularity_regions", oracle=f"""
WITH edges AS ({_EDGES_SQL}),
lbl AS (SELECT n_nationkey AS node, n_regionkey AS com FROM nation),
m AS (SELECT CAST(sum(w) AS BIGINT) AS m FROM edges),
e2 AS (
  SELECT ls.com AS com_s, ld.com AS com_d, e.w
  FROM edges e
  JOIN lbl ls ON ls.node = e.src
  JOIN lbl ld ON ld.node = e.dst
),
kout AS (SELECT com_s AS com, CAST(sum(w) AS BIGINT) AS kout
         FROM e2 GROUP BY com_s),
kin AS (SELECT com_d AS com, CAST(sum(w) AS BIGINT) AS kin
        FROM e2 GROUP BY com_d),
win AS (SELECT com_s AS com, CAST(sum(w) AS BIGINT) AS w_within
        FROM e2 WHERE com_s = com_d GROUP BY com_s)
SELECT kout.com AS region_key,
       coalesce(win.w_within, 0) AS w_within,
       kout.kout AS kout, kin.kin AS kin,
       (coalesce(win.w_within, 0) * m.m - kout.kout * kin.kin)
         / (m.m * m.m) AS q_contrib
FROM kout JOIN kin ON kin.com = kout.com
LEFT JOIN win ON win.com = kout.com
CROSS JOIN m
""")
def graph_modularity_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MODULARITY of a given partition — the quality score every community
    detection (Louvain/Leiden/label propagation) optimizes, computed here
    for the region partition of the nation->nation trade graph (directed,
    weighted form): per community c,
        Q_c = w_within(c)/m - kout(c)*kin(c)/m^2,
    total modularity = sum over communities. High Q_c = trade concentrates
    inside the region versus what its in/out strength predicts.

    Determinism: every mass (w_within, kout, kin, m) is an exact bigint
    edge-count sum; q_contrib is a SINGLE integer-ratio division — one
    IEEE op on identical integers in both engines, no round() midpoint
    hazard (SCALE.md round-5 lesson).

    Scale shape: the fact-sized work is the edge aggregation (runs once,
    combiner'd); everything after operates on the community-keyed table
    (|communities| rows). Labels join the edge list twice — at 100 TB
    both are broadcast joins (node->community map is node-sized). This is
    exactly the modularity-gain bookkeeping one Louvain pass needs, so the
    operator doubles as that building block."""
    for t in ("lineitem", "orders", "customer", "supplier", "nation"):
        load(spark, sf_dir, t).createOrReplaceTempView(t)

    edges = spark.sql(_EDGES_SQL)
    lbl = (spark.table("nation")
           .select(F.col("n_nationkey").alias("node"),
                   F.col("n_regionkey").alias("com")))
    e2 = (edges
          .join(F.broadcast(lbl.withColumnRenamed("com", "com_s")),
                F.col("node") == F.col("src")).drop("node")
          .join(F.broadcast(lbl.withColumnRenamed("com", "com_d")),
                F.col("node") == F.col("dst")).drop("node"))
    m = e2.agg(F.sum("w").cast("bigint").alias("m"))
    kout = e2.groupBy(F.col("com_s").alias("com")).agg(
        F.sum("w").cast("bigint").alias("kout"))
    kin = e2.groupBy(F.col("com_d").alias("com")).agg(
        F.sum("w").cast("bigint").alias("kin"))
    win = (e2.filter(F.col("com_s") == F.col("com_d"))
           .groupBy(F.col("com_s").alias("com"))
           .agg(F.sum("w").cast("bigint").alias("w_within")))
    out = (kout.join(kin, "com")
           .join(win, "com", "left")
           .crossJoin(F.broadcast(m))
           .select(F.col("com").alias("region_key"),
                   F.coalesce("w_within", F.lit(0)).cast("bigint")
                    .alias("w_within"),
                   "kout", "kin",
                   ((F.coalesce("w_within", F.lit(0)) * F.col("m")
                     - F.col("kout") * F.col("kin"))
                    / (F.col("m") * F.col("m"))).alias("q_contrib")))
    return out


# ANF rounds (ball radii reported). Register conventions are
# sketch_hll_registers' exactly: 32-bit det hash, 256 buckets,
# register = leading-zero rank of the high 24 bits.
_ANF_ROUNDS = 2

_ANF_MERGE_SQL = """
m{r} AS (
  SELECT node, bucket, max(register) AS register FROM (
    SELECT node, bucket, register FROM m{p}
    UNION ALL
    SELECT s.node, r.bucket, r.register
    FROM sym s JOIN m{p} r ON r.node = s.nbr
  ) GROUP BY node, bucket)"""


def _anf_oracle() -> str:
    merges = ",".join(
        _ANF_MERGE_SQL.format(r=r, p="0" if r == 1 else str(r - 1))
        for r in range(1, _ANF_ROUNDS + 1))
    radii = " UNION ALL ".join(
        f"SELECT CAST(node AS BIGINT) AS node, CAST({r} AS BIGINT) AS radius,"
        f" CAST(bucket AS BIGINT) AS bucket, CAST(register AS BIGINT)"
        f" AS register FROM m{r}"
        for r in range(1, _ANF_ROUNDS + 1))
    return f"""
WITH edges AS ({_EDGES_SQL}),
sym AS (SELECT src AS node, dst AS nbr FROM edges WHERE src != dst
        UNION SELECT dst, src FROM edges WHERE src != dst),
nodes AS (SELECT n_nationkey AS node FROM nation),
h AS (SELECT node,
             ('0x' || substr(md5(CAST(node AS VARCHAR)), 1, 8))::BIGINT AS hv
      FROM nodes),
m0 AS (SELECT node, hv % 256 AS bucket,
              CASE WHEN hv // 256 = 0 THEN 25
                   ELSE 24 - CAST(floor(log2(hv // 256)) AS BIGINT) END
                AS register
       FROM h),
{merges}
{radii}
"""


def _anf_impl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANF / HyperANF (Palmer et al. 2002; Boldi & Vigna 2011): the
    NEIGHBORHOOD FUNCTION |ball(v, r)| estimated by HLL sketches — per
    node, a 256-register HLL of its r-hop ball, built by {_ANF_ROUNDS}
    unrolled rounds of register-wise MAX-merge with the neighbors'
    sketches over the co-supply nation graph. Output is the INTEGER
    register state per (node, radius) — bit-reproducible in any engine
    (sketch_hll_registers' exact hash/bucket/rank conventions); the
    cardinality estimate derived from it is graded against exact
    BFS ball sizes in tests/test_graph_merge_oracle.py. ANF is how
    effective-diameter / centrality-ish statistics are computed on
    graphs where exact per-node reachability (n x BFS) is infeasible —
    the web-graph / dup-graph diagnostic at 100 B nodes.

    Scale shape: sketch state is nodes x 256 small ints, mergeable by
    MAX — each round is ONE self-describing keyed aggregate over
    (edges JOIN state), exactly the combiner-friendly shuffle HLL
    exists to enable (the same reason sketch_hll_merge_rollup works as
    a continuous aggregate). Rounds grow the radius, not the state;
    O(diameter) rounds total, each a |E|-row keyed shuffle — the
    large-star/small-star cost class, with NO frontier blowup because
    the sketch absorbs the set union."""
    from ..functions.vector import det_hash64

    for t in ("lineitem", "orders", "customer", "supplier", "nation"):
        load(spark, sf_dir, t).createOrReplaceTempView(t)
    edges = spark.sql(_EDGES_SQL).filter(F.col("src") != F.col("dst"))
    sym = (edges.select(F.col("src").alias("node"), F.col("dst").alias("nbr"))
           .unionByName(edges.select(F.col("dst").alias("node"),
                                     F.col("src").alias("nbr")))
           .distinct())
    nodes = spark.table("nation").select(F.col("n_nationkey").alias("node"))
    hv = det_hash64(F.col("node").cast("string"))
    w = F.floor(hv / 256)
    register = F.when(w == 0, F.lit(25)).otherwise(
        24 - F.floor(F.log2(w.cast("double")))).cast("bigint")
    state = nodes.select("node", (hv % 256).alias("bucket"),
                         register.alias("register"))
    out = None
    for r in range(1, _ANF_ROUNDS + 1):
        nbr_state = (sym.join(state.withColumnRenamed("node", "nbr"), "nbr")
                     .select("node", "bucket", "register"))
        state = (state.unionByName(nbr_state)
                 .groupBy("node", "bucket")
                 .agg(F.max("register").alias("register")))
        radius_rows = state.select(
            F.col("node").cast("bigint").alias("node"),
            F.lit(r).cast("bigint").alias("radius"),
            F.col("bucket").cast("bigint").alias("bucket"),
            F.col("register").cast("bigint").alias("register"))
        out = radius_rows if out is None else out.unionByName(radius_rows)
    return out


def _register_anf() -> None:
    query("graph_anf_hll", oracle=_anf_oracle())(_anf_impl)


_register_anf()


@query("graph_adamic_adar", oracle="""
WITH e AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
),
pdeg AS (SELECT p, count(*) AS d FROM e GROUP BY p),
com AS (
  SELECT a.c AS c1, b.c AS c2,
         count(*) AS common,
         sum(round(1.0 / ln(pd.d), 9)) AS aa_raw
  FROM e a
  JOIN e b ON a.p = b.p AND a.c < b.c
  JOIN pdeg pd ON pd.p = a.p
  GROUP BY a.c, b.c
),
r AS (
  SELECT c1, c2, common, round(aa_raw, 6) AS aa,
         row_number() OVER (ORDER BY round(aa_raw, 6) DESC, c1, c2) AS rnk
  FROM com
)
SELECT c1, c2, CAST(common AS BIGINT) AS common, aa,
       CAST(rnk AS BIGINT) AS rnk
FROM r WHERE rnk <= 50
""")
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction (Adamic & Adar 2003): the top-50
    customer pairs by AA score = Σ_{p ∈ N(a)∩N(b)} 1/ln(deg(p)) over
    shared co-purchased parts — the common-neighbors recommender that
    DOWN-WEIGHTS promiscuous neighbors (a part everyone buys says
    little; a niche part shared by two customers says a lot). The
    degree-sensitivity is exactly what Jaccard
    (graph_jaccard_link_prediction) lacks; production link-prediction
    stacks ship both as features.

    Shared neighbors have degree >= 2 by construction (a degree-1 part
    has one customer and can never be common), so ln(d) is bounded away
    from zero — no guard needed. Per-neighbor terms snap to the 9-digit
    grid BEFORE the pair sum (the DSIR log-ratio precedent) and the
    pair score to 6 digits before ranking, so the top-50 cut is
    engine-stable. Physical shape is the jaccard twin's: one bucket
    self-equi-join on the shared part (Σ|part's customer list|²,
    bounded by co-purchase fan-out), the part-degree table joined in
    broadcast-sized, and TakeOrderedAndProject for the top-50 (never a
    global window over all pairs); hub parts are the same documented
    stop-node cap — now ENFORCED machinery in dedup_minhash_lsh_capped's
    width window, drop-in here if a retail-scale graph needs it."""
    from pyspark.sql import Window as W

    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem")
    e = (orders.join(lineitem,
                     orders.o_orderkey == lineitem.l_orderkey)
         .select(F.col("o_custkey").alias("c"),
                 F.col("l_partkey").alias("p"))
         .distinct())
    pdeg = e.groupBy("p").agg(F.count(F.lit(1)).alias("d"))
    a = e.select(F.col("c").alias("c1"), "p")
    b = e.select(F.col("c").alias("c2"), "p")
    com = (a.join(b, "p").filter(F.col("c1") < F.col("c2"))
           .join(pdeg, "p")
           .groupBy("c1", "c2")
           .agg(F.count(F.lit(1)).alias("common"),
                F.sum(F.round(1.0 / F.log(F.col("d")), 9)).alias("aa_raw")))
    scored = com.select("c1", "c2", "common",
                        F.round(F.col("aa_raw"), 6).alias("aa"))
    top = scored.orderBy(F.col("aa").desc(), "c1", "c2").limit(50)
    rnk = F.row_number().over(W.orderBy(F.col("aa").desc(), "c1", "c2"))
    return (top.withColumn("rnk", rnk.cast("bigint"))
            .select("c1", "c2", F.col("common").cast("bigint")
                    .alias("common"), "aa", "rnk"))


# Harmonic centrality: hop bound + the BFS sparsification (top-K
# strongest out-edges per node). 1/d contributions in exact micro-units
# (round(1e6/d) is the same integer in both engines for every d).
_HARM_MAXD = 4


@query("graph_harmonic_centrality", eager=True, oracle=f"""
WITH RECURSIVE {_SPARSE_EDGES_CTES}
nodes AS (SELECT n_nationkey AS node FROM nation),
bfs(src, node, d) AS (
  SELECT node, node, 0 FROM nodes
  UNION
  SELECT bfs.src, e.dst, bfs.d + 1 FROM bfs JOIN e ON e.src = bfs.node
  WHERE bfs.d < {_HARM_MAXD}
),
dist AS (SELECT src, node, min(d) AS d FROM bfs GROUP BY src, node),
h AS (
  SELECT src,
         count(*) FILTER (WHERE node <> src) AS n_reached,
         COALESCE(sum(CASE WHEN node <> src
                      THEN CAST(round(1000000.0 / d) AS BIGINT) END), 0)
           AS harmonic_micro
  FROM dist GROUP BY src)
SELECT n.node, CAST(COALESCE(h.n_reached, 0) AS BIGINT) AS n_reached,
       CAST(COALESCE(h.harmonic_micro, 0) AS BIGINT) AS harmonic_micro,
       round(COALESCE(h.harmonic_micro, 0) / 1000000.0, 6) AS harmonic
FROM nodes n LEFT JOIN h ON h.src = n.node
""")
def graph_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HARMONIC CENTRALITY, bounded-hop (Marchiori & Latora 2000;
    Boldi & Vigna 2014 argue it is the closeness variant that behaves
    on DISCONNECTED graphs, since unreachable nodes contribute 0 rather
    than poisoning the mean): per node u, sum of 1/d(u,v) over nodes
    reached within {_HARM_MAXD} hops of the sparsified trade graph
    (graph_bfs_hops' top-{_BFS_K} out-edges). The multi-source frontier
    loop is graph_bfs_hops' single-source loop with the source id
    carried in the state key — the textbook way an all-sources BFS
    rides the same Pregel-on-relational machinery.

    Determinism: 1/d contributions are EXACT integer micro-units
    (round(1e6/d) — the same integer in both engines for every integer
    d), so the centrality sum is pure int64 and the float column is a
    display projection — the grid discipline (SCALE.md watch #4) for a
    sum that would otherwise accumulate 0.333... in engine-dependent
    order.

    Scale shape: state is (src, node, hops) pairs — at most V^2 rows,
    here 25^2; each of the {_HARM_MAXD} rounds is one equi-join against
    the sparse edge list + a min-aggregate, localCheckpointed like BFS.
    At web scale all-sources exact harmonic is V x BFS (the reason
    production systems sample sources or use HyperBall — the
    graph_anf_hll sketch is exactly that neighborhood-function
    machinery); the bounded-hop relational form here IS HyperBall's
    exact small-radius base case."""
    for t in ("lineitem", "orders", "customer", "supplier", "nation"):
        load(spark, sf_dir, t).createOrReplaceTempView(t)

    e = _sparsified_edges(spark)

    nodes = spark.table("nation").select(
        F.col("n_nationkey").cast("bigint").alias("node"))
    dist = nodes.select(F.col("node").alias("src"), "node",
                        F.lit(0).cast("bigint").alias("d"))
    for _ in range(_HARM_MAXD):
        nxt = (dist.alias("s").join(e.alias("g"),
                                    F.col("s.node") == F.col("g.src"))
               .select(F.col("s.src").alias("src"),
                       F.col("g.dst").cast("bigint").alias("node"),
                       (F.col("s.d") + 1).alias("d")))
        dist = (dist.union(nxt).groupBy("src", "node")
                .agg(F.min("d").alias("d"))
                .coalesce(1).localCheckpoint())
    contrib = F.when(
        F.col("node") != F.col("src"),
        F.round(1000000.0 / F.col("d"), 0).cast("bigint"))
    h = (dist.groupBy("src")
         .agg(F.sum(F.when(F.col("node") != F.col("src"), 1).otherwise(0))
              .alias("n_reached"),
              F.coalesce(F.sum(contrib), F.lit(0)).alias("harmonic_micro")))
    return (nodes.join(h, nodes.node == h.src, "left")
            .select("node",
                    F.coalesce("n_reached", F.lit(0)).cast("bigint")
                    .alias("n_reached"),
                    F.coalesce("harmonic_micro", F.lit(0)).cast("bigint")
                    .alias("harmonic_micro"),
                    F.round(F.coalesce("harmonic_micro", F.lit(0))
                            / 1000000.0, 6).alias("harmonic")))


@query("graph_betweenness_bounded", eager=True, oracle=f"""
WITH RECURSIVE {_SPARSE_EDGES_CTES}
nodes AS (SELECT n_nationkey AS node FROM nation),
walks(s, v, d) AS (
  SELECT node, node, 0 FROM nodes
  UNION ALL
  SELECT walks.s, e.dst, walks.d + 1
  FROM walks JOIN e ON e.src = walks.v
  WHERE walks.d < {_HARM_MAXD}
),
dist AS (SELECT s, v, min(d) AS d FROM walks GROUP BY s, v),
sp AS (
  SELECT w.s, w.v, w.d, count(*) AS sigma
  FROM walks w JOIN dist ON dist.s = w.s AND dist.v = w.v
                        AND dist.d = w.d
  GROUP BY w.s, w.v, w.d),
dep AS (
  SELECT a.v AS node,
         CAST(round(1000000.0 * a.sigma * b.sigma / st.sigma) AS BIGINT)
           AS term
  FROM sp a
  JOIN sp b ON b.s = a.v
  JOIN sp st ON st.s = a.s AND st.v = b.v
            AND st.d = a.d + b.d
  WHERE a.v <> a.s AND b.v <> b.s AND b.v <> a.s),
bt AS (SELECT node, sum(term) AS betweenness_micro FROM dep GROUP BY node)
SELECT n.node,
       CAST(COALESCE(bt.betweenness_micro, 0) AS BIGINT)
         AS betweenness_micro,
       round(COALESCE(bt.betweenness_micro, 0) / 1000000.0, 6)
         AS betweenness
FROM nodes n LEFT JOIN bt ON bt.node = n.node
""")
def graph_betweenness_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BETWEENNESS CENTRALITY, bounded-hop exact (Freeman 1977; Brandes
    2001 is the sequential algorithm — this is the relational all-pairs
    form): for every node v, the sum over ordered pairs (s, t) of the
    fraction of s->t shortest paths (within {_HARM_MAXD} hops, on the
    sparsified trade graph) that pass THROUGH v. Shortest-path COUNTS
    come from the walk-multiplicity identity: every walk of length
    exactly d(s,v) is a shortest path, so sigma(s,v) = the number of
    minimal-length walks — which the engine computes as a per-level
    count DP (multiplicities aggregate per frontier level) and the
    oracle as a count over UNION ALL recursive walk rows; the two are
    the same number by construction. The pair dependency uses the
    standard d(s,v) + d(v,t) = d(s,t) betweenness decomposition.

    Determinism: sigma values are exact int64; each (s, v, t) term
    snaps the path-fraction product to integer micro-units before the
    sum (the harmonic-centrality grid), so the centrality is order-free
    int64 addition.

    Scale shape: dist/sigma state is (src, node) <= V^2 rows; the
    dependency triple-join is V^3-bounded ALGEBRA ON MODEL STATE (25^3
    here), never data-sized. At web scale exact betweenness is
    intractable (the reason Brandes++ samples sources); the sampled
    estimator is THIS query with the source set filtered — same plan,
    fewer s rows."""
    for t in ("lineitem", "orders", "customer", "supplier", "nation"):
        load(spark, sf_dir, t).createOrReplaceTempView(t)

    e = _sparsified_edges(spark)

    nodes = spark.table("nation").select(
        F.col("n_nationkey").cast("bigint").alias("node"))
    # level-synchronous walk-count DP: frontier multiplicities per level
    level = nodes.select(F.col("node").alias("s"), F.col("node").alias("v"),
                         F.lit(1).cast("bigint").alias("c"))
    sp = level.select("s", "v", F.lit(0).cast("bigint").alias("d"),
                      F.col("c").alias("sigma")).localCheckpoint()
    for d in range(1, _HARM_MAXD + 1):
        level = (level.alias("f").join(e.alias("g"),
                                       F.col("f.v") == F.col("g.src"))
                 .groupBy(F.col("f.s").alias("s"),
                          F.col("g.dst").cast("bigint").alias("v"))
                 .agg(F.sum("f.c").alias("c"))
                 .coalesce(1).localCheckpoint())
        sp = sp.unionByName(level.select(
            "s", "v", F.lit(d).cast("bigint").alias("d"),
            F.col("c").alias("sigma")))
    dist = sp.groupBy("s", "v").agg(F.min("d").alias("dmin"))
    sp = (sp.join(dist, ["s", "v"])
          .filter(F.col("d") == F.col("dmin"))
          .select("s", "v", "d", "sigma")
          .localCheckpoint())
    a = sp.select(F.col("s").alias("s"), F.col("v").alias("m"),
                  F.col("d").alias("da"), F.col("sigma").alias("sa"))
    b = sp.select(F.col("s").alias("m2"), F.col("v").alias("t"),
                  F.col("d").alias("db"), F.col("sigma").alias("sb"))
    st = sp.select(F.col("s").alias("s2"), F.col("v").alias("t2"),
                   F.col("d").alias("dst_"), F.col("sigma").alias("sst"))
    dep = (a.join(b, F.col("m") == F.col("m2"))
           .join(st, (F.col("s") == F.col("s2"))
                 & (F.col("t") == F.col("t2"))
                 & (F.col("dst_") == F.col("da") + F.col("db")))
           .filter((F.col("m") != F.col("s")) & (F.col("t") != F.col("m"))
                   & (F.col("t") != F.col("s")))
           .select(F.col("m").alias("node"),
                   F.round(1000000.0 * F.col("sa") * F.col("sb")
                           / F.col("sst"), 0).cast("bigint").alias("term")))
    bt = dep.groupBy("node").agg(F.sum("term").alias("betweenness_micro"))
    return (nodes.join(bt, "node", "left")
            .select("node",
                    F.coalesce("betweenness_micro", F.lit(0)).cast("bigint")
                    .alias("betweenness_micro"),
                    F.round(F.coalesce("betweenness_micro", F.lit(0))
                            / 1000000.0, 6).alias("betweenness")))


_HITS_ORACLE = f"""
WITH edges AS ({_EDGES_SQL}),
nodes AS (SELECT n_nationkey AS node FROM nation),
a1 AS (SELECT dst AS node, sum(w) AS auth FROM edges GROUP BY dst),
h1 AS (
  SELECT e.src AS node, sum(e.w * a1.auth) AS hub
  FROM edges e JOIN a1 ON a1.node = e.dst GROUP BY e.src),
mx AS (SELECT (SELECT max(auth) FROM a1) AS ma,
              (SELECT max(hub) FROM h1) AS mh)
SELECT n.node,
       CAST(COALESCE(a1.auth, 0) AS BIGINT) AS auth_exact,
       CAST(COALESCE(h1.hub, 0) AS BIGINT) AS hub_exact,
       round(COALESCE(a1.auth, 0) / mx.ma, 6) AS auth_norm,
       round(COALESCE(h1.hub, 0) / mx.mh, 6) AS hub_norm
FROM nodes n CROSS JOIN mx
LEFT JOIN a1 ON a1.node = n.node
LEFT JOIN h1 ON h1.node = n.node
"""


@query("graph_hits_hubs_authorities", oracle=_HITS_ORACLE)
def graph_hits_hubs_authorities(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) over the weighted
    nation->nation trade graph — one full mutual-reinforcement
    iteration on an EXACT INTEGER grid: with hub_0 = 1 everywhere,
    auth_1(v) = sum of in-edge weights and hub_1(u) = sum over
    out-edges of w * auth_1, both pure int64 (edge weights are bigint
    lineitem counts), so the scores are order-free exact sums; the only
    float arithmetic is the max-normalized display column, a single
    bigint/bigint IEEE division identical in both engines (the
    harmonic-centrality grid discipline, SCALE.md watch #4).

    Iteration depth is bounded by int64 range, not by choice: a second
    exact full iteration multiplies magnitudes to ~sum(w)^4 (overflow
    past sf100); production HITS max-normalizes each half-step, which
    costs exactness but keeps values in [0,1] forever — the same
    round-then-sum compromise PageRank makes, with rounding bounding
    the drift.

    Scale shape: the fact-sized work is the one edge aggregation
    (shared with PageRank); each half-step is one node-keyed
    join + sum over the node^2-bounded edge list with the node-sized
    score vector on the broadcast side. Reference analog: the keyed-sum
    reduce of reducer.java:31-47, run twice with swapped key roles."""
    for t in ("lineitem", "orders", "customer", "supplier", "nation"):
        load(spark, sf_dir, t).createOrReplaceTempView(t)

    edges = spark.sql(_EDGES_SQL)
    a1 = edges.groupBy(F.col("dst").alias("node")).agg(
        F.sum("w").alias("auth"))
    h1 = (edges.join(a1, edges.dst == a1.node)
          .groupBy(F.col("src").alias("hnode"))
          .agg(F.sum(F.col("w") * F.col("auth")).alias("hub")))
    nodes = spark.table("nation").select(
        F.col("n_nationkey").alias("node"))
    scored = (nodes.join(a1, "node", "left")
              .join(h1, nodes.node == h1.hnode, "left")
              .select("node",
                      F.coalesce("auth", F.lit(0)).cast("bigint")
                      .alias("auth_exact"),
                      F.coalesce("hub", F.lit(0)).cast("bigint")
                      .alias("hub_exact")))
    mx = scored.agg(F.max("auth_exact").alias("ma"),
                    F.max("hub_exact").alias("mh"))
    return (scored.crossJoin(F.broadcast(mx))
            .select("node", "auth_exact", "hub_exact",
                    F.round(F.col("auth_exact") / F.col("ma"), 6)
                    .alias("auth_norm"),
                    F.round(F.col("hub_exact") / F.col("mh"), 6)
                    .alias("hub_norm")))


# SCC pivot: nation 3 sits inside a 9-node strongly connected core of
# the top-{_BFS_K} sparsified trade graph at sf0.01 (nation 0, the BFS
# source, has NO in-edges that survive sparsification — its SCC is the
# trivial singleton, which would demonstrate nothing).
_SCC_PIVOT = 3

_SCC_ORACLE = f"""
WITH RECURSIVE {_SPARSE_EDGES_CTES}
fwd(node, d) AS (
  SELECT {_SCC_PIVOT}, 0
  UNION
  SELECT e.dst, fwd.d + 1 FROM fwd JOIN e ON e.src = fwd.node
  WHERE fwd.d < {_BFS_MAXD}
),
bwd(node, d) AS (
  SELECT {_SCC_PIVOT}, 0
  UNION
  SELECT e.src, bwd.d + 1 FROM bwd JOIN e ON e.dst = bwd.node
  WHERE bwd.d < {_BFS_MAXD}
),
f AS (SELECT node, min(d) AS fwd_hops FROM fwd GROUP BY node),
b AS (SELECT node, min(d) AS bwd_hops FROM bwd GROUP BY node)
SELECT CAST(f.node AS BIGINT) AS node,
       CAST(f.fwd_hops AS BIGINT) AS fwd_hops,
       CAST(b.bwd_hops AS BIGINT) AS bwd_hops
FROM f JOIN b ON b.node = f.node
"""


@query("graph_scc_forward_backward", eager=True, oracle=_SCC_ORACLE)
def graph_scc_forward_backward(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """STRONGLY CONNECTED COMPONENT of a pivot by FORWARD-BACKWARD
    reachability (Fleischer, Hendrickson & Pinar 2000 — the SCC
    algorithm that parallelizes, unlike Tarjan's stack): the SCC
    containing the pivot is exactly (nodes reachable FROM the pivot)
    intersect (nodes that REACH the pivot). Both reachability sets are
    the graph_bfs_hops frontier loop — the backward pass runs the SAME
    loop on the reversed edge list — and the intersection is one
    node-keyed inner join. Hop-bounded at {_BFS_MAXD} in BOTH engines
    so the result is deterministic on graphs with longer paths
    (diameter of the sparsified trade graph is < {_BFS_MAXD}).

    Scale shape: two BFS loops (each round = one equi-join against the
    sparse edge list + min-aggregate over node-sized state, local-
    checkpointed) + one node-sized join. Full FW-BW recurses on the
    three remainder partitions with fresh pivots — each recursion is
    this query on a filtered edge list; production systems cap the
    recursion and hand small remainders to a single task, so the
    distributed kernel IS this pivot step."""
    for t in ("lineitem", "orders", "customer", "supplier"):
        load(spark, sf_dir, t).createOrReplaceTempView(t)

    e = _sparsified_edges(spark)
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))

    def reach(edges: DataFrame, out: str) -> DataFrame:
        dist = spark.createDataFrame([(_SCC_PIVOT, 0)],
                                     "node bigint, hops bigint")
        for _ in range(_BFS_MAXD):
            nxt = (dist.alias("d").join(edges.alias("g"),
                                        F.col("d.node") == F.col("g.src"))
                   .select(F.col("g.dst").cast("bigint").alias("node"),
                           (F.col("d.hops") + 1).alias("hops")))
            dist = (dist.union(nxt).groupBy("node")
                    .agg(F.min("hops").alias("hops"))
                    .coalesce(1).localCheckpoint())
        return dist.withColumnRenamed("hops", out)

    return (reach(e, "fwd_hops")
            .join(reach(rev, "bwd_hops"), "node")
            .select("node", "fwd_hops", "bwd_hops"))


_PPR_SEED_REGION = 0


def _ppr_oracle() -> str:
    step = """
r{k} AS (
  SELECT nodes.node,
         (1 - {d}) * s.sw
         + {d} * coalesce(sum(r{p}.pr * e.w / outw.ow), 0) AS pr
  FROM nodes
  JOIN seeds_w s ON s.node = nodes.node
  LEFT JOIN edges e ON e.dst = nodes.node
  LEFT JOIN r{p} ON r{p}.node = e.src
  LEFT JOIN outw ON outw.src = e.src
  GROUP BY nodes.node, s.sw
)"""
    steps = ",".join(step.format(k=k, p=k - 1, d=_DAMP)
                     for k in range(1, _NITER + 1))
    return f"""
WITH edges AS ({_EDGES_SQL}),
nodes AS (SELECT n_nationkey AS node FROM nation),
seeds AS (SELECT n_nationkey AS node FROM nation
          WHERE n_regionkey = {_PPR_SEED_REGION}),
ns AS (SELECT cast(count(*) AS DOUBLE) AS n FROM seeds),
seeds_w AS (
  SELECT nodes.node,
         CASE WHEN seeds.node IS NOT NULL THEN 1.0 / ns.n ELSE 0.0 END AS sw
  FROM nodes CROSS JOIN ns LEFT JOIN seeds ON seeds.node = nodes.node),
outw AS (SELECT src, sum(w) AS ow FROM edges GROUP BY src),
r0 AS (SELECT node, sw AS pr FROM seeds_w),
{steps}
SELECT r.node,
       CAST(CASE WHEN s.node IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
         AS is_seed,
       round(r.pr, 6) AS ppr
FROM r{_NITER} r LEFT JOIN seeds s ON s.node = r.node
"""


@query("graph_personalized_pagerank", eager=True,
       oracle=_ppr_oracle())
def graph_personalized_pagerank(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """PERSONALIZED PAGERANK / random walk with restart (Jeh & Widom
    2003 — the topic-sensitive ranking behind "similar items" and graph
    recommendations): the PageRank teleport jumps back to a SEED SET
    (nations of region {_PPR_SEED_REGION}) instead of the uniform
    vector, so mass concentrates around the seeds' neighborhoods.
    Same unrolled {_NITER}-iteration loop, damping {_DAMP}, weighted
    transitions, and float posture as graph_pagerank_nations (rank
    propagation is the only float path; rounded once at the output).

    Scale shape: identical to PageRank — the fact-sized edge
    aggregation runs once, each iteration is one keyed join + sum with
    the node-sized rank vector broadcast. At web scale PPR from many
    seed sets shares the edge list across seed-set columns (a rank
    MATRIX node x seed-sets) — same plan, wider value."""
    for t in ("lineitem", "orders", "customer", "supplier", "nation"):
        load(spark, sf_dir, t).createOrReplaceTempView(t)

    edges = spark.sql(_EDGES_SQL)
    outw = edges.groupBy("src").agg(F.sum("w").alias("ow"))
    trans = (edges.join(outw, "src")
             .select("src", "dst", (F.col("w") / F.col("ow")).alias("p")))
    trans.persist()
    trans.count()
    nation = spark.table("nation")
    nodes = nation.select(F.col("n_nationkey").alias("node"))
    seeds = (nation.filter(F.col("n_regionkey") == _PPR_SEED_REGION)
             .select(F.col("n_nationkey").alias("node")))
    n_seeds = seeds.count()
    seeds_w = (nodes.join(seeds.withColumn("sw", F.lit(1.0 / n_seeds)),
                          "node", "left")
               .select("node", F.coalesce("sw", F.lit(0.0)).alias("sw")))
    seeds_w.persist()

    ranks = seeds_w.select("node", F.col("sw").alias("pr"))
    for _ in range(_NITER):
        contrib = (trans.join(ranks, trans.src == ranks.node)
                   .select(trans.dst.alias("node"),
                           (F.col("pr") * F.col("p")).alias("c")))
        ranks = (seeds_w.join(
                    contrib.groupBy("node").agg(F.sum("c").alias("s")),
                    "node", "left")
                 .select("node",
                         (F.lit(1 - _DAMP) * F.col("sw")
                          + F.lit(_DAMP) * F.coalesce(F.col("s"),
                                                      F.lit(0.0))
                          ).alias("pr")))
    return (ranks.join(seeds.withColumn("is_seed", F.lit(1)),
                       "node", "left")
            .select("node",
                    F.coalesce("is_seed", F.lit(0)).cast("bigint")
                    .alias("is_seed"),
                    F.round("pr", 6).alias("ppr")))


# DeepWalk corpus geometry: _WALKS_PER_NODE walks of _WALK_LEN steps
# from every node over the sparsified trade graph; the next-hop draw is
# a content hash over (walk, step) mod out-degree — the engine's no-RNG
# determinism rule (rbm Bernoulli / bootstrap precedent).
_WALKS_PER_NODE = 2
_WALK_LEN = 4


def _walk_oracle() -> str:
    """Every step CTE is AS MATERIALIZED (the LPA lesson): w{k} is
    referenced by w{k+1} AND the final union, and e2/deg embed the
    4-way lineitem trade join — inlined, DuckDB re-evaluates the edge
    derivation once per chain re-expansion, which at sf0.1 was
    measured spilling >100 GB in-process and never finishing (the
    off-nominal sweep's one hang); materialized, the edge join runs
    once and each step is a walk-frontier-sized lookup."""
    step_tpl = """
w{k} AS MATERIALIZED (
  SELECT w.walk_id, w.start_node, CAST({k} AS BIGINT) AS step,
         e.dst AS node
  FROM w{p} w
  JOIN deg d ON d.src = w.node
  JOIN e2 e ON e.src = w.node
   AND e.rn = 1 + ('0x' || substr(md5('walk:' ||
         CAST(w.walk_id AS VARCHAR) || ':' ||
         CAST({k} AS VARCHAR)), 1, 8))::BIGINT % d.outdeg)"""
    steps = ",".join(step_tpl.format(k=k, p=k - 1)
                     for k in range(1, _WALK_LEN + 1))
    union = "\nUNION ALL\n".join(
        f"SELECT walk_id, start_node, step, node FROM w{k}"
        for k in range(_WALK_LEN + 1))
    return f"""
WITH {_SPARSE_EDGES_CTES}
e2 AS MATERIALIZED (
  SELECT src, dst,
         row_number() OVER (PARTITION BY src ORDER BY dst) AS rn
  FROM e),
deg AS MATERIALIZED (
  SELECT src, count(*) AS outdeg FROM e2 GROUP BY src),
nodes AS (SELECT n_nationkey AS node FROM nation),
w0 AS MATERIALIZED (
  SELECT CAST(n.node * {_WALKS_PER_NODE} + r.i AS BIGINT) AS walk_id,
         CAST(n.node AS BIGINT) AS start_node,
         CAST(0 AS BIGINT) AS step, CAST(n.node AS BIGINT) AS node
  FROM nodes n CROSS JOIN range({_WALKS_PER_NODE}) r(i)),
{steps}
{union}
"""


@query("graph_walk_corpus", eager=True, oracle=_walk_oracle())
def graph_walk_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEEPWALK / node2vec WALK-CORPUS GENERATION (Perozzi et al. 2014;
    Grover & Leskovec 2016 with p=q=1): the graph-embedding pipeline's
    first stage — materialize {_WALKS_PER_NODE} truncated random walks
    of length {_WALK_LEN} from every node; the walk corpus then feeds a
    skip-gram trainer exactly like a text corpus (corpus_sequence_pack
    / corpus_mlm_mask_plan downstream). The next hop draws uniformly
    over the node's sparsified out-edges via a 32-bit content hash of
    (walk_id, step) mod out-degree — deterministic, engine-neutral, and
    exactly the per-step categorical draw production walkers make with
    a seeded RNG. Walks stop early at sinks (no out-edges) in BOTH
    engines.

    Scale shape: each step is ONE equi-join of the walk frontier
    against the (rank-indexed) edge list — frontier size is walks x 1
    rows, never fan-out, so a billion-walk corpus costs L keyed joins
    over walk-sized state with the edge list shuffled once (or
    broadcast when node-sized). This join-per-step shape is exactly how
    distributed node2vec implementations schedule walks; the alias-
    table trick replaces mod-outdeg when edges are weighted."""
    for t in ("lineitem", "orders", "customer", "supplier", "nation"):
        load(spark, sf_dir, t).createOrReplaceTempView(t)
    from ..functions.vector import det_hash64

    e = _sparsified_edges(spark)
    from pyspark.sql import Window as W
    e2 = e.withColumn("rn", F.row_number().over(
        W.partitionBy("src").orderBy("dst")))
    deg = e2.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    e2 = e2.join(deg, "src")
    e2.persist()
    e2.count()

    nodes = spark.table("nation").select(
        F.col("n_nationkey").cast("bigint").alias("node"))
    w0 = (nodes.crossJoin(
            spark.range(_WALKS_PER_NODE).select(F.col("id").alias("i")))
          .select((F.col("node") * _WALKS_PER_NODE + F.col("i"))
                  .cast("bigint").alias("walk_id"),
                  F.col("node").alias("start_node"),
                  F.lit(0).cast("bigint").alias("step"),
                  F.col("node")))
    frontier, out = w0, w0
    for k in range(1, _WALK_LEN + 1):
        pick = 1 + det_hash64(F.concat_ws(
            ":", F.lit("walk"), F.col("walk_id"),
            F.lit(k))) % F.col("outdeg")
        frontier = (frontier.join(e2, frontier.node == e2.src)
                    .filter(F.col("rn") == pick)
                    .select("walk_id", "start_node",
                            F.lit(k).cast("bigint").alias("step"),
                            F.col("dst").cast("bigint").alias("node")))
        out = out.unionByName(frontier)
    return out


# Louvain move-gain formula, directed-modularity form (shared with
# graph_modularity_regions: Q*m^2 = sum_c [m*win_c - kout_c*kin_c]).
# Moving node i from A to B changes the scaled modularity by an exact
# integer: the win/kout/kin updates below. ONE textual definition used
# by both engines (the _HW_LNEW substitution discipline).
_LOUVAIN_GAIN = """
  m.m * ((w.wiA + w.wAi - w.wii) * -1 + (w.wiB + w.wBi + w.wii))
  - ( (ca.kout - k.kout_i) * (ca.kin - k.kin_i) - ca.kout * ca.kin
    + (cb.kout + k.kout_i) * (cb.kin + k.kin_i) - cb.kout * cb.kin )
"""


def _louvain_oracle() -> str:
    masses = """
  SELECT l.com,
         coalesce(sum(CASE WHEN ls.com = ld.com AND ls.com = l.com
                           THEN e.w END), 0) AS win,
         coalesce(sum(CASE WHEN ls.com = l.com THEN e.w END), 0) AS kout,
         coalesce(sum(CASE WHEN ld.com = l.com THEN e.w END), 0) AS kin
  FROM (SELECT DISTINCT com FROM {lbl}) l
  LEFT JOIN edges e ON TRUE
  LEFT JOIN {lbl} ls ON ls.node = e.src
  LEFT JOIN {lbl} ld ON ld.node = e.dst
  GROUP BY l.com"""
    return f"""
WITH edges AS ({_EDGES_SQL}),
lbl AS (SELECT n_nationkey AS node, n_regionkey AS com FROM nation),
m AS (SELECT CAST(sum(w) AS BIGINT) AS m FROM edges),
ki AS (
  SELECT l.node,
         coalesce((SELECT sum(w) FROM edges WHERE src = l.node), 0)
           AS kout_i,
         coalesce((SELECT sum(w) FROM edges WHERE dst = l.node), 0)
           AS kin_i,
         coalesce((SELECT sum(w) FROM edges
                   WHERE src = l.node AND dst = l.node), 0) AS wii
  FROM lbl l),
wic AS (
  SELECT e.src AS node, ld.com, sum(e.w) AS w_out
  FROM edges e JOIN lbl ld ON ld.node = e.dst GROUP BY 1, 2),
wci AS (
  SELECT e.dst AS node, ls.com, sum(e.w) AS w_in
  FROM edges e JOIN lbl ls ON ls.node = e.src GROUP BY 1, 2),
cm AS ({masses.format(lbl="lbl")}),
cand AS (
  SELECT l.node, l.com AS com_a, c.com AS com_b,
         coalesce(wa.w_out, 0) AS wiA, coalesce(wa2.w_in, 0) AS wAi,
         coalesce(wb.w_out, 0) AS wiB, coalesce(wb2.w_in, 0) AS wBi,
         k.kout_i, k.kin_i, k.wii
  FROM lbl l
  JOIN ki k ON k.node = l.node
  JOIN (SELECT DISTINCT com FROM lbl) c ON c.com <> l.com
  LEFT JOIN wic wa ON wa.node = l.node AND wa.com = l.com
  LEFT JOIN wci wa2 ON wa2.node = l.node AND wa2.com = l.com
  LEFT JOIN wic wb ON wb.node = l.node AND wb.com = c.com
  LEFT JOIN wci wb2 ON wb2.node = l.node AND wb2.com = c.com),
gains AS (
  SELECT w.node, w.com_a, w.com_b,
         CAST({_LOUVAIN_GAIN.replace("k.kout_i", "w.kout_i")
                             .replace("k.kin_i", "w.kin_i")}
              AS BIGINT) AS gain
  FROM cand w
  JOIN cm ca ON ca.com = w.com_a
  JOIN cm cb ON cb.com = w.com_b
  CROSS JOIN m),
best AS (
  SELECT node, com_a, com_b, gain FROM (
    SELECT *, row_number() OVER (PARTITION BY node
              ORDER BY gain DESC, com_b) AS rn FROM gains)
  WHERE rn = 1 AND gain > 0),
applied AS (
  SELECT node, com_b, gain FROM best
  ORDER BY gain DESC, node LIMIT 1),
lbl2 AS (
  SELECT l.node, coalesce(a.com_b, l.com) AS com
  FROM lbl l LEFT JOIN applied a ON a.node = l.node),
cm2 AS ({masses.format(lbl="lbl2")}),
q AS (
  SELECT (SELECT sum(m.m * win - kout * kin) FROM cm CROSS JOIN m)
           AS q_before_scaled,
         (SELECT sum(m.m * win - kout * kin) FROM cm2 CROSS JOIN m)
           AS q_after_scaled)
SELECT l.node, CAST(l.com AS BIGINT) AS com_before,
       CAST(coalesce(b.com_b, l.com) AS BIGINT) AS best_com,
       CAST(coalesce(b.gain, 0) AS BIGINT) AS gain_m2,
       CAST(CASE WHEN a.node IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
         AS applied,
       CAST(q.q_before_scaled AS BIGINT) AS q_before_scaled,
       CAST(q.q_after_scaled AS BIGINT) AS q_after_scaled
FROM lbl l
LEFT JOIN best b ON b.node = l.node
LEFT JOIN applied a ON a.node = l.node
CROSS JOIN q
"""


@query("graph_louvain_move_phase", eager=True, oracle=_louvain_oracle())
def graph_louvain_move_phase(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """ONE EXACT LOUVAIN MOVE (Blondel et al. 2008, phase-1 kernel) on
    the directed-modularity grid graph_modularity_regions defines
    (Q*m^2 = sum_c [m*win_c - kout_c*kin_c], all masses exact bigint
    edge sums): starting from the region partition, compute every
    node's best-gain community move (gain in exact m^2-scaled integer
    units — the full gain table a Louvain sweep consults), then APPLY
    only the single globally best positive move and report the
    recomputed before/after scaled modularity. Q_after - Q_before ==
    the applied gain is an exact integer identity the tests pin —
    possible only because nothing ever leaves the integer grid.

    Sequentiality note: full Louvain applies moves one at a time
    (gains interact); distributed implementations (Grappolo,
    Spark-Louvain) apply non-adjacent batches via graph coloring. This
    kernel is the per-move arithmetic both schedule; the synchronous
    all-movers variant is this same gain table with a coloring filter.

    Scale shape: the fact-sized edge aggregation runs once (shared
    with PageRank/modularity); gains are algebra on (node x adjacent
    communities) with the community-mass table broadcast — at web
    scale the gain table is edge-list-sized, the exact cost envelope
    of one Louvain sweep."""
    for t in ("lineitem", "orders", "customer", "supplier", "nation"):
        load(spark, sf_dir, t).createOrReplaceTempView(t)

    edges = spark.sql(_EDGES_SQL)
    edges.persist()
    edges.count()
    lbl = (spark.table("nation")
           .select(F.col("n_nationkey").alias("node"),
                   F.col("n_regionkey").alias("com")))
    m_val = edges.agg(F.sum("w")).collect()[0][0]  # 1 scalar (model state)

    kout_i = edges.groupBy(F.col("src").alias("node")).agg(
        F.sum("w").alias("kout_i"))
    kin_i = edges.groupBy(F.col("dst").alias("node")).agg(
        F.sum("w").alias("kin_i"))
    wii = (edges.filter(F.col("src") == F.col("dst"))
           .groupBy(F.col("src").alias("node"))
           .agg(F.sum("w").alias("wii")))
    ki = (lbl.select("node")
          .join(kout_i, "node", "left").join(kin_i, "node", "left")
          .join(wii, "node", "left")
          .select("node",
                  F.coalesce("kout_i", F.lit(0)).alias("kout_i"),
                  F.coalesce("kin_i", F.lit(0)).alias("kin_i"),
                  F.coalesce("wii", F.lit(0)).alias("wii")))

    wic = (edges.join(F.broadcast(lbl.withColumnRenamed("node", "dn")),
                      F.col("dn") == F.col("dst"))
           .groupBy(F.col("src").alias("node"), "com")
           .agg(F.sum("w").alias("w_out")))
    wci = (edges.join(F.broadcast(lbl.withColumnRenamed("node", "sn")),
                      F.col("sn") == F.col("src"))
           .groupBy(F.col("dst").alias("node"), "com")
           .agg(F.sum("w").alias("w_in")))

    def masses(labels: DataFrame) -> DataFrame:
        e2 = (edges
              .join(F.broadcast(labels.select(
                  F.col("node").alias("sn"), F.col("com").alias("com_s"))),
                  F.col("sn") == F.col("src"))
              .join(F.broadcast(labels.select(
                  F.col("node").alias("dn"), F.col("com").alias("com_d"))),
                  F.col("dn") == F.col("dst")))
        win = (e2.filter(F.col("com_s") == F.col("com_d"))
               .groupBy(F.col("com_s").alias("com"))
               .agg(F.sum("w").alias("win")))
        ko = e2.groupBy(F.col("com_s").alias("com")).agg(
            F.sum("w").alias("kout"))
        kn = e2.groupBy(F.col("com_d").alias("com")).agg(
            F.sum("w").alias("kin"))
        return (labels.select("com").distinct()
                .join(win, "com", "left").join(ko, "com", "left")
                .join(kn, "com", "left")
                .select("com",
                        F.coalesce("win", F.lit(0)).alias("win"),
                        F.coalesce("kout", F.lit(0)).alias("kout"),
                        F.coalesce("kin", F.lit(0)).alias("kin")))

    cm = masses(lbl).localCheckpoint()
    coms = lbl.select("com").distinct()
    cand = (lbl.join(ki, "node")
            .join(coms.withColumnRenamed("com", "com_b"),
                  F.col("com_b") != F.col("com"))
            .withColumnRenamed("com", "com_a"))
    wa = wic.select(F.col("node").alias("n1"), F.col("com").alias("c1"),
                    F.col("w_out").alias("wiA"))
    wa2 = wci.select(F.col("node").alias("n2"), F.col("com").alias("c2"),
                     F.col("w_in").alias("wAi"))
    wb = wic.select(F.col("node").alias("n3"), F.col("com").alias("c3"),
                    F.col("w_out").alias("wiB"))
    wb2 = wci.select(F.col("node").alias("n4"), F.col("com").alias("c4"),
                     F.col("w_in").alias("wBi"))
    cand = (cand
            .join(wa, (F.col("n1") == F.col("node"))
                  & (F.col("c1") == F.col("com_a")), "left")
            .join(wa2, (F.col("n2") == F.col("node"))
                  & (F.col("c2") == F.col("com_a")), "left")
            .join(wb, (F.col("n3") == F.col("node"))
                  & (F.col("c3") == F.col("com_b")), "left")
            .join(wb2, (F.col("n4") == F.col("node"))
                  & (F.col("c4") == F.col("com_b")), "left")
            .select("node", "com_a", "com_b", "kout_i", "kin_i", "wii",
                    F.coalesce("wiA", F.lit(0)).alias("wiA"),
                    F.coalesce("wAi", F.lit(0)).alias("wAi"),
                    F.coalesce("wiB", F.lit(0)).alias("wiB"),
                    F.coalesce("wBi", F.lit(0)).alias("wBi")))
    ca = cm.select(F.col("com").alias("cma"), F.col("kout").alias("koutA"),
                   F.col("kin").alias("kinA"))
    cb = cm.select(F.col("com").alias("cmb"), F.col("kout").alias("koutB"),
                   F.col("kin").alias("kinB"))
    g = (cand.join(F.broadcast(ca), F.col("cma") == F.col("com_a"))
         .join(F.broadcast(cb), F.col("cmb") == F.col("com_b")))
    # the _LOUVAIN_GAIN formula, spelled with this frame's columns
    gain = (F.lit(m_val)
            * ((F.col("wiA") + F.col("wAi") - F.col("wii")) * -1
               + (F.col("wiB") + F.col("wBi") + F.col("wii")))
            - ((F.col("koutA") - F.col("kout_i"))
               * (F.col("kinA") - F.col("kin_i"))
               - F.col("koutA") * F.col("kinA")
               + (F.col("koutB") + F.col("kout_i"))
               * (F.col("kinB") + F.col("kin_i"))
               - F.col("koutB") * F.col("kinB")))
    gains = g.select("node", "com_a", "com_b",
                     gain.cast("bigint").alias("gain"))
    from pyspark.sql import Window as W
    rn = F.row_number().over(
        W.partitionBy("node").orderBy(F.desc("gain"), F.asc("com_b")))
    best = (gains.withColumn("rn", rn).filter("rn = 1 AND gain > 0")
            .drop("rn").localCheckpoint())
    applied = (best.orderBy(F.desc("gain"), F.asc("node")).limit(1)
               .select(F.col("node").alias("anode"),
                       F.col("com_b").alias("acom")))
    lbl2 = (lbl.join(F.broadcast(applied),
                     F.col("node") == F.col("anode"), "left")
            .select("node", F.coalesce("acom", F.col("com")).alias("com")))
    cm2 = masses(lbl2)

    def qscaled(cmx: DataFrame, name: str) -> DataFrame:
        return cmx.agg(F.sum(F.lit(m_val) * F.col("win")
                             - F.col("kout") * F.col("kin"))
                       .cast("bigint").alias(name))

    qb = qscaled(cm, "q_before_scaled")
    qa = qscaled(cm2, "q_after_scaled")
    bsel = best.select(F.col("node").alias("bn"),
                       F.col("com_b").alias("bcom"),
                       F.col("gain").alias("bgain"))
    return (lbl.join(F.broadcast(bsel), F.col("bn") == F.col("node"),
                     "left")
            .join(F.broadcast(applied), F.col("anode") == F.col("node"),
                  "left")
            .crossJoin(F.broadcast(qb)).crossJoin(F.broadcast(qa))
            .select(F.col("node").cast("bigint").alias("node"),
                    F.col("com").cast("bigint").alias("com_before"),
                    F.coalesce("bcom", F.col("com")).cast("bigint")
                    .alias("best_com"),
                    F.coalesce("bgain", F.lit(0)).cast("bigint")
                    .alias("gain_m2"),
                    F.when(F.col("anode").isNotNull(), 1).otherwise(0)
                    .cast("bigint").alias("applied"),
                    "q_before_scaled", "q_after_scaled"))


# ONE SQL text, BOTH engines: Spark 4's recursive-CTE support
# (UnionLoop execution) runs the identical statement DuckDB uses as
# the oracle — bounded UNION ALL walk enumeration + min-hop rollup
# (UNION-dedup recursion is not in Spark's dialect; the depth bound
# keeps the walk table finite on any graph).
_RECURSIVE_BFS_SQL = f"""
WITH RECURSIVE {_SPARSE_EDGES_CTES}
walks(node, d) AS (
  SELECT CAST({_BFS_SRC} AS BIGINT), CAST(0 AS BIGINT)
  UNION ALL
  SELECT CAST(e.dst AS BIGINT), walks.d + 1
  FROM walks JOIN e ON e.src = walks.node
  WHERE walks.d < {_BFS_MAXD}
)
SELECT CAST(node AS BIGINT) AS node, CAST(min(d) AS BIGINT) AS hops
FROM walks GROUP BY node
"""


@query("sql_recursive_cte_bfs", oracle=_RECURSIVE_BFS_SQL)
def sql_recursive_cte_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RECURSIVE CTE executed BY SPARK (the SQL:1999 recursion surface
    Spark 4 added — Catalyst plans it as a UnionLoop): single-source
    shortest hops over the sparsified trade graph, expressed as the
    IDENTICAL SQL text the DuckDB oracle runs — the one query in the
    registry where both engines execute the same statement, so the
    comparison grades Spark's recursive execution itself. The
    declarative twin of graph_bfs_hops' hand-written frontier loop
    (same source, same hop bound, same sparsification): a test pins
    that the two strategies return identical hop tables.

    Dialect note: Spark's recursion accepts UNION ALL only (no
    UNION-dedup fixpoint), so the recursion enumerates bounded WALKS
    (finite: top-{_BFS_K} out-degree ^ {_BFS_MAXD} paths worst-case)
    and min-aggregates outside — the same shape the walk-multiplicity
    betweenness oracle uses.

    Scale shape: each UnionLoop iteration is one equi-join of the
    frontier against the edge CTE — the engine schedules exactly what
    graph_bfs_hops does by hand, minus the localCheckpoint control
    (Spark manages the loop's plan growth internally). For unbounded
    graphs prefer the explicit loop: the depth bound is the UNION ALL
    dialect's termination price."""
    for t in ("lineitem", "orders", "customer", "supplier"):
        load(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_RECURSIVE_BFS_SQL)


_MST_ROUNDS = 6   # components at least halve per round: ceil(log2(25))+1
_MST_JUMPS = 8    # pointer-doubling bound: resolves chains up to 2^8


def _mst_oracle() -> str:
    """MAX spanning forest by the CYCLE PROPERTY instead of by
    replaying Borůvka: under a strict total edge order (w DESC, u, v —
    row_number rank rk, heavier = smaller), an edge belongs to the
    unique maximum spanning forest iff its endpoints are NOT connected
    by a path of strictly better (smaller-rk) edges. One recursive CTE
    computes, for every probe edge eid, the set of nodes reachable
    from its u through better edges; the anti-join keeps edges whose v
    was never reached. A genuinely DIFFERENT algorithm from the
    engine's Borůvka — agreement is a theorem (matroid uniqueness
    under a total order), not a replay."""
    return f"""
WITH RECURSIVE dir_edges AS MATERIALIZED ({_EDGES_SQL}),
und AS MATERIALIZED (
  SELECT least(src, dst) AS u, greatest(src, dst) AS v,
         CAST(sum(w) AS BIGINT) AS w
  FROM dir_edges WHERE src != dst GROUP BY 1, 2),
e AS MATERIALIZED (
  SELECT u, v, w,
         row_number() OVER (ORDER BY w DESC, u, v) AS rk
  FROM und),
reach(eid, node) AS (
  SELECT rk, u FROM e
  UNION
  SELECT r.eid, CASE WHEN g.u = r.node THEN g.v ELSE g.u END
  FROM reach r JOIN e g ON (g.u = r.node OR g.v = r.node)
                        AND g.rk < r.eid)
SELECT CAST(u AS BIGINT) AS u, CAST(v AS BIGINT) AS v, w,
       CAST(rk AS BIGINT) AS rk
FROM e
WHERE NOT EXISTS (SELECT 1 FROM reach r
                  WHERE r.eid = e.rk AND r.node = e.v)
"""


@query("graph_mst_boruvka", oracle=_mst_oracle(), eager=True)
def graph_mst_boruvka(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAXIMUM SPANNING FOREST via BORŮVKA (Borůvka 1926; the
    MapReduce/Pregel MST of choice — each round every component picks
    its best incident cross edge, components merge, O(log n) rounds)
    over the undirected nation trade graph (edge weight = lineitem
    count between the two nations, both directions summed) — the trade
    BACKBONE: the strongest acyclic skeleton connecting all nations.
    Completes the graph-kernel family: CC (two-phase star), communities
    (Louvain), cores (k-core peel), flows (PageRank/HITS) — MST is the
    remaining classic distributed-graph primitive.

    Determinism: a strict total edge order (w DESC, u, v → rank rk)
    makes the maximum spanning forest UNIQUE, so the engine and oracle
    can run genuinely different algorithms and agreement is a matroid
    theorem, not a replay: Spark runs Borůvka (per-component best edge
    via one window, hook graph, 2-cycle break to the smaller label,
    pointer-doubling label resolution — the Shiloach-Vishkin merge),
    while DuckDB applies the cycle property (an edge is IN iff no
    strictly-better path connects its endpoints — one recursive CTE).

    EAGER (registry metadata): the round loop collects a 1-row
    emptiness probe per round and localCheckpoints the label table
    (the two-phase-star lineage lesson: per-round plans reference the
    previous round several times).

    Scale shape: rounds are O(log n); each round shuffles the edge
    list once per label join (edge-sized), the per-component argmin is
    one window over candidate edges partitioned BY COMPONENT (never a
    global sort at scale — here the 300-edge rank window is model
    state), and label resolution is pointer doubling over the
    component table (node-sized, halving per round). This is the
    textbook 100 TB MST layout; nothing quadratic anywhere. Reference
    scope: no graph surface in the reference (SURVEY §2.5); declared
    extension."""
    from pyspark.sql import Window as W

    for t in ("lineitem", "orders", "customer", "supplier"):
        load(spark, sf_dir, t).createOrReplaceTempView(t)
    edges_dir = spark.sql(_EDGES_SQL)
    und = (edges_dir.filter(F.col("src") != F.col("dst"))
           .select(F.least("src", "dst").alias("u"),
                   F.greatest("src", "dst").alias("v"), "w")
           .groupBy("u", "v").agg(F.sum("w").cast("bigint").alias("w")))
    e = und.select(
        "u", "v", "w",
        F.row_number().over(W.orderBy(F.desc("w"), F.asc("u"), F.asc("v")))
        .cast("bigint").alias("rk")).localCheckpoint()

    labels = (e.select(F.col("u").alias("node"))
              .unionByName(e.select(F.col("v").alias("node")))
              .distinct()
              .select("node", F.col("node").alias("comp"))
              .localCheckpoint())
    chosen_rks = None
    for _ in range(_MST_ROUNDS):
        lu = labels.select(F.col("node").alias("u"),
                           F.col("comp").alias("cu"))
        lv = labels.select(F.col("node").alias("v"),
                           F.col("comp").alias("cv"))
        ce = (e.join(lu, "u").join(lv, "v")
              .filter(F.col("cu") != F.col("cv")).localCheckpoint())
        if ce.limit(1).count() == 0:
            break
        cand = (ce.select(F.col("cu").alias("comp"), "rk",
                          F.col("cv").alias("other"))
                .unionByName(ce.select(F.col("cv").alias("comp"), "rk",
                                       F.col("cu").alias("other"))))
        best = (cand.withColumn(
                    "rn", F.row_number().over(
                        W.partitionBy("comp").orderBy("rk")))
                .filter(F.col("rn") == 1)
                .select("comp", "rk", F.col("other").alias("par"))
                .localCheckpoint())
        picked = best.select("rk").distinct()
        chosen_rks = (picked if chosen_rks is None
                      else chosen_rks.unionByName(picked).distinct())
        # hook graph: comp -> other end's comp; break 2-cycles to the
        # smaller label (functional-graph cycles under a total edge
        # order have length exactly 2), then pointer-double to roots
        p = best.select("comp", "par")
        gp = (p.alias("a").join(p.alias("b"),
                                F.col("a.par") == F.col("b.comp"))
              .select(F.col("a.comp").alias("comp"),
                      F.col("a.par").alias("par"),
                      F.col("b.par").alias("gp")))
        p = gp.select(
            "comp",
            F.when((F.col("gp") == F.col("comp"))
                   & (F.col("comp") < F.col("par")), F.col("comp"))
            .otherwise(F.col("par")).alias("par")).localCheckpoint()
        for _j in range(_MST_JUMPS):
            j = (p.alias("a").join(p.alias("b"),
                                   F.col("a.par") == F.col("b.comp"))
                 .select(F.col("a.comp").alias("comp"),
                         F.col("a.par").alias("par"),
                         F.col("b.par").alias("par2")))
            j = j.localCheckpoint()
            if j.filter(F.col("par2") != F.col("par")).limit(1).count() == 0:
                p = j.select("comp", "par")
                break
            p = j.select("comp", F.col("par2").alias("par"))
        labels = (labels.join(p, labels.comp == p.comp, "left")
                  .select(labels.node,
                          F.coalesce(p.par, labels.comp).alias("comp"))
                  .localCheckpoint())
    if chosen_rks is None:
        return e.filter(F.lit(False)).select("u", "v", "w", "rk")
    return e.join(chosen_rks.localCheckpoint(), "rk").select("u", "v", "w",
                                                             "rk")
