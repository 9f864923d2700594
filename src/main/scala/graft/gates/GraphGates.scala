package graft.gates

import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.gates.Shared.t

/** Graph analytics over the TPC-H tables: PageRank, triangles, BFS
  * levels, bounded SSSP and the supplier-customer degree distribution.
  * q271 and q273-q275 read the same results from state built once per
  * JVM (the steady-state reads of [[LifecycleGates]]). */
object GraphGates {

  /** One PageRank iteration pair (contribution + rank CTE) per step —
    * the oracle mirror of [[graft.ops.Graph.pageRank]]'s loop. */
  private def pageRankIterCtes(iters: Int, damping: Double): String =
    (1 to iters).map { i =>
      s"""c$i AS (
         |  SELECT e.dst AS node, SUM(r${i - 1}.pr * e.w / e.ow) AS c
         |  FROM ew e JOIN r${i - 1} ON r${i - 1}.node = e.src GROUP BY 1
         |), r$i AS (
         |  SELECT nodes.node,
         |    ROUND((1-$damping)/nn.n + $damping*COALESCE(c$i.c, 0), 9) AS pr
         |  FROM nodes CROSS JOIN nn LEFT JOIN c$i ON c$i.node = nodes.node
         |)""".stripMargin
    }.mkString(", ")

  /** The trade-graph edge list of `dir` as one parquet file, built once
    * per JVM; the directory it is in. */
  private def tradeEdges(s: org.apache.spark.sql.SparkSession, dir: String): String =
    graft.etl.PrebuiltState.getOrCreate(s"tradeEdges|$dir", "trade-edges") { d =>
      GraftSession.write(graft.ops.Graph.tradeEdges(s, dir).repartition(1))
        .mode("overwrite").parquet(d)
    }

  val all: Seq[Gate] = Seq(

    // Weighted PageRank over the supplier-nation → customer-nation
    // trade graph: the fact table collapses to a |nations|² edge list
    // (the 100 TB step), then 5 rank iterations touch only that.
    Gate("q80_pagerank", (s, dir) => {
      val edges = graft.ops.Graph.tradeEdges(s, dir)
      val nodes = t(s, dir, "nation").select(col("n_nationkey").as("node"))
      graft.ops.Graph.pageRank(nodes, edges, iters = 5, damping = 0.85)
        .join(broadcast(t(s, dir, "nation")),
          col("node") === col("n_nationkey"))
        .select(col("n_name"), col("pr"))
        .orderBy("n_name")
    },
      s"""WITH e AS (
         |  SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
         |         CAST(COUNT(1) AS DOUBLE) AS w
         |  FROM lineitem l
         |  JOIN orders o ON l.l_orderkey = o.o_orderkey
         |  JOIN customer c ON o.o_custkey = c.c_custkey
         |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
         |  GROUP BY 1, 2
         |), ow AS (
         |  SELECT src, SUM(w) AS ow FROM e GROUP BY 1
         |), ew AS (
         |  SELECT e.src, e.dst, e.w, ow.ow FROM e JOIN ow ON ow.src = e.src
         |), nodes AS (
         |  SELECT n_nationkey AS node FROM nation
         |), nn AS (
         |  SELECT CAST(COUNT(1) AS DOUBLE) AS n FROM nodes
         |), r0 AS (
         |  SELECT node, 1.0/nn.n AS pr FROM nodes CROSS JOIN nn
         |), ${pageRankIterCtes(5, 0.85)}
         |SELECT n.n_name, r5.pr
         |FROM r5 JOIN nation n ON n.n_nationkey = r5.node
         |ORDER BY n.n_name""".stripMargin),

    // Per-node triangle counts over the derived nation trade graph
    // (degree-oriented wedge join; counts are orientation-independent,
    // so the oracle's a<b<c form cross-validates the algorithm).
    Gate("q91_triangles", (s, dir) =>
      graft.ops.Graph.triangles(graft.ops.Graph.tradeEdges(s, dir))
        .orderBy("node"),
      """WITH e0 AS MATERIALIZED (
        |  SELECT DISTINCT s_nationkey AS src, c_nationkey AS dst
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |), und AS MATERIALIZED (
        |  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        |  FROM e0 WHERE src <> dst
        |), tri AS (
        |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM und e1
        |  JOIN und e2 ON e2.a = e1.b
        |  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
        |)
        |SELECT node, COUNT(1) AS n_triangles FROM (
        |  SELECT x AS node FROM tri
        |  UNION ALL SELECT y FROM tri
        |  UNION ALL SELECT z FROM tri
        |) GROUP BY 1 ORDER BY 1""".stripMargin),

    // BFS hop levels from nation 0 over the directed trade graph;
    // iterative frontier expansion vs the oracle's recursive CTE -
    // different algorithm, same levels.
    Gate("q98_bfs_levels", (s, dir) =>
      graft.ops.Graph.bfsLevels(
          graft.ops.Graph.tradeEdges(s, dir).select("src", "dst"),
          source = 0L, maxHops = 3)
        .select(col("node").cast("long").as("node"), col("lvl"))
        .orderBy("node"),
      """WITH RECURSIVE e AS MATERIALIZED (
        |  SELECT DISTINCT s_nationkey AS src, c_nationkey AS dst
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |), r AS (
        |  SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS lvl
        |  UNION ALL
        |  SELECT CAST(e.dst AS BIGINT), r.lvl + 1
        |  FROM r JOIN e ON e.src = r.node WHERE r.lvl < 3
        |)
        |SELECT node, MIN(lvl) AS lvl FROM r GROUP BY 1 ORDER BY 1""".stripMargin),

    // Hop-bounded single-source shortest paths over the nation trade
    // graph (cheapest ≤3-leg route from nation 0, edge cost = trade
    // volume). Frontier Bellman-Ford — per round one frontier-edge
    // join + one min-reduce shuffle, checkpoint-truncated; the hop
    // bound is the SEMANTIC the recursive-CTE oracle enumerates, and
    // every path cost is the same left-fold of doubles in both
    // engines, so distances match without rounding.
    Gate("q191_sssp_bounded", (s, dir) => {
      val e = graft.ops.Graph.tradeEdges(s, dir)
        .select(col("src"), col("dst"), col("w").cast("double").as("w"))
      graft.ops.Graph.ssspBounded(e, source = 0L, maxRounds = 3)
        .orderBy("node")
    },
      // exhaustive ≤3-hop path enumeration (recursive CTE) — the
      // frontier Bellman-Ford must reproduce every hop-bounded minimum
      """WITH RECURSIVE e AS (
        |  SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
        |         CAST(COUNT(1) AS DOUBLE) AS w
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  GROUP BY 1, 2
        |), walk(node, d, hops) AS (
        |  SELECT CAST(0 AS BIGINT), CAST(0.0 AS DOUBLE), 0
        |  UNION
        |  SELECT e.dst, wk.d + e.w, wk.hops + 1
        |  FROM walk wk JOIN e ON e.src = wk.node
        |  WHERE wk.hops < 3
        |)
        |SELECT node, MIN(d) AS d FROM walk
        |GROUP BY node ORDER BY node""".stripMargin),

    // Degree distribution of the supplier-customer interaction graph
    // (distinct counterparties per supplier, then the count-of-counts
    // histogram) — the connectivity audit before any graph algorithm.
    // The orderkey join rides the per-JVM bucketed fact layout
    // (FactBuckets — zero Exchange/Sort on either side); the two
    // aggregations after it are the query's own shuffles.
    Gate("q238_degree_dist", (s, dir) => {
      val (li, od) = graft.etl.FactBuckets.orderkeyFacts(s, dir)
      li.join(od, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_suppkey"))
        .agg(count_distinct(col("o_custkey")).as("degree"))
        .groupBy(col("degree"))
        .agg(count(lit(1)).as("n_suppliers"))
        .orderBy("degree")
    },
      """WITH deg AS (
        |  SELECT l_suppkey,
        |    CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS degree
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1
        |)
        |SELECT degree, COUNT(1) AS n_suppliers
        |FROM deg GROUP BY 1 ORDER BY 1""".stripMargin),

    // Graph serve path (q80's steady-state twin): the derived trade
    // edge list persists ONCE (tradeEdges → parquet — the build-once/
    // query-many posture the LSH/IVF/posting indexes already take;
    // the fact joins are 85–95% of every graph gate's cost and
    // re-running them per analytics query is the anti-pattern), and
    // the gate body is read-index + iterate. Oracle = q80's verbatim:
    // the persisted edges must serve exactly the from-scratch rank.
    Gate("q271_pagerank_read", (s, dir) => {
      val path = tradeEdges(s, dir)
      val nodes = t(s, dir, "nation").select(col("n_nationkey").as("node"))
      graft.ops.Graph.pageRank(nodes, s.read.parquet(path),
          iters = 5, damping = 0.85)
        .join(broadcast(t(s, dir, "nation")),
          col("node") === col("n_nationkey"))
        .select(col("n_name"), col("pr"))
        .orderBy("n_name")
    },
      // q80's oracle verbatim: the persisted edge list must serve
      // exactly the from-scratch PageRank
      s"""WITH e AS (
         |  SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
         |         CAST(COUNT(1) AS DOUBLE) AS w
         |  FROM lineitem l
         |  JOIN orders o ON l.l_orderkey = o.o_orderkey
         |  JOIN customer c ON o.o_custkey = c.c_custkey
         |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
         |  GROUP BY 1, 2
         |), ow AS (
         |  SELECT src, SUM(w) AS ow FROM e GROUP BY 1
         |), ew AS (
         |  SELECT e.src, e.dst, e.w, ow.ow FROM e JOIN ow ON ow.src = e.src
         |), nodes AS (
         |  SELECT n_nationkey AS node FROM nation
         |), nn AS (
         |  SELECT CAST(COUNT(1) AS DOUBLE) AS n FROM nodes
         |), r0 AS (
         |  SELECT node, 1.0/nn.n AS pr FROM nodes CROSS JOIN nn
         |), ${pageRankIterCtes(5, 0.85)}
         |SELECT n.n_name, r5.pr
         |FROM r5 JOIN nation n ON n.n_nationkey = r5.node
         |ORDER BY n.n_name""".stripMargin),

    // BFS served from the persisted trade-edge list — q98's
    // steady-state twin, sharing q271's ONE `trade-edges` build (the
    // fact joins are the family's whole cost; one build serves
    // PageRank, BFS and triangles). Oracle = q98's verbatim.
    Gate("q273_bfs_read", (s, dir) => {
      val path = tradeEdges(s, dir)
      graft.ops.Graph.bfsLevels(
          s.read.parquet(path).select("src", "dst"),
          source = 0L, maxHops = 3)
        .select(col("node").cast("long").as("node"), col("lvl"))
        .orderBy("node")
    },
      // q98's oracle verbatim: the persisted edge list must serve
      // exactly the from-scratch BFS levels
      """WITH RECURSIVE e AS MATERIALIZED (
        |  SELECT DISTINCT s_nationkey AS src, c_nationkey AS dst
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |), r AS (
        |  SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS lvl
        |  UNION ALL
        |  SELECT CAST(e.dst AS BIGINT), r.lvl + 1
        |  FROM r JOIN e ON e.src = r.node WHERE r.lvl < 3
        |)
        |SELECT node, MIN(lvl) AS lvl FROM r GROUP BY 1 ORDER BY 1""".stripMargin),

    // Triangle counts from the same persisted edge list — q91's
    // steady-state twin. Oracle = q91's verbatim.
    Gate("q274_triangles_read", (s, dir) => {
      val path = tradeEdges(s, dir)
      graft.ops.Graph.triangles(s.read.parquet(path)).orderBy("node")
    },
      // q91's oracle verbatim: the persisted edge list must serve
      // exactly the from-scratch triangle counts
      """WITH e0 AS MATERIALIZED (
        |  SELECT DISTINCT s_nationkey AS src, c_nationkey AS dst
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |), und AS MATERIALIZED (
        |  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        |  FROM e0 WHERE src <> dst
        |), tri AS (
        |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM und e1
        |  JOIN und e2 ON e2.a = e1.b
        |  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
        |)
        |SELECT node, COUNT(1) AS n_triangles FROM (
        |  SELECT x AS node FROM tri
        |  UNION ALL SELECT y FROM tri
        |  UNION ALL SELECT z FROM tri
        |) GROUP BY 1 ORDER BY 1""".stripMargin),

    // Supplier-customer degree histogram served from the persisted
    // DISTINCT pair list — q238's steady-state twin. The pair dedup
    // collapses the 60M-row orderkey join output to |supp × cust|
    // once at build; the serve is two small aggregations (pairs are
    // distinct, so per-supplier COUNT ≡ COUNT DISTINCT custkey).
    // Oracle = q238's verbatim.
    Gate("q275_degree_read", (s, dir) => {
      val path = graft.etl.PrebuiltState.getOrCreate(
          s"suppCustPairs|$dir", "supp-cust-pairs") { d =>
        val (li, od) = graft.etl.FactBuckets.orderkeyFacts(s, dir)
        GraftSession.write(li.join(od, col("l_orderkey") === col("o_orderkey"))
            .select(col("l_suppkey"), col("o_custkey")).distinct()
            .coalesce(4))
          .mode("overwrite").parquet(d)
      }
      s.read.parquet(path)
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("degree"))
        .groupBy(col("degree"))
        .agg(count(lit(1)).as("n_suppliers"))
        .orderBy("degree")
    },
      // q238's oracle verbatim: the persisted distinct pair list must
      // serve exactly the from-scratch degree histogram
      """WITH deg AS (
        |  SELECT l_suppkey,
        |    CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS degree
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1
        |)
        |SELECT degree, COUNT(1) AS n_suppliers
        |FROM deg GROUP BY 1 ORDER BY 1""".stripMargin)
  )
}
