package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.etl.Checkpoints

/** Iterative graph analytics over edge lists — PageRank as the
  * representative fixed-point computation (the connected-components
  * family lives in [[Dedup]]).
  *
  * Scale shape: the heavy work at 100 TB is DERIVING the edge list
  * (fact-table joins + aggregation — each a single shuffle on its
  * key); the rank iteration then touches only |nodes| + |edges| rows.
  * Per iteration: one join of the rank table to the (out-weighted)
  * edge list on `src`, one `groupBy(dst)` partial-aggregated shuffle,
  * one left join back to the node set. The edge list is computed once
  * and cached; each iteration's rank table is EAGERLY
  * localCheckpoint'ed — an iterative DataFrame loop otherwise
  * accumulates an ever-deeper logical plan whose analysis cost grows
  * superlinearly with the iteration count (the same lesson as
  * [[Dedup.connectedComponentsStar]]).
  *
  * Determinism: ranks are rounded to 9 digits each iteration, so
  * per-engine float summation order cannot drift across iterations.
  * Dangling nodes (no out-edges) keep their share of the teleport term
  * but do not redistribute their mass — the standard simplification,
  * mirrored exactly by the oracle.
  */
object Graph {

  /** Node/edge ceiling for the driver fast paths below — the same
    * runtime size-switch [[Dedup]] uses for connected components (and
    * AQE uses for broadcasts): 2^20 rows ≈ tens of MB boxed on the
    * driver. The trade graph these operators serve is |nations|²-
    * bounded AT EVERY CORPUS SCALE — the 100 TB cost is DERIVING the
    * edge list (the fact-table joins, which stay distributed and are
    * materialized exactly once); iterating a ≤broadcast-sized graph
    * through per-round Spark jobs is pure scheduling latency. Graphs
    * above the bound take the distributed frontier loops unchanged. */
  private val SmallGraphBound = 1 << 20

  /** Triangle counting's fast path is wedge-quadratic in the worst
    * case, so its ceiling is lower (2^16 edges → ≤ ~16M wedge checks
    * even on degenerate graphs). */
  private val SmallTriangleBound = 1 << 16

  /** Session override for the fast-path ceilings (`spark.graft.graph
    * .smallBound`) — set 0 to force the distributed loops (spec and
    * cluster-gate coverage of the scale path on small fixtures). */
  private def bound(df: DataFrame, default: Int): Long =
    df.sparkSession.conf
      .get("spark.graft.graph.smallBound", default.toString).toLong

  private def round9(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue()

  private def num(x: Any): Double = x.asInstanceOf[Number].doubleValue()
  private def lng(x: Any): Long = x.asInstanceOf[Number].longValue()

  /** The long-keyed driver fast paths below are only taken when the id
    * column IS integral — any other id type (string keys, decimals)
    * goes straight to the type-generic distributed loop instead of
    * ClassCastException-ing on `lng`. */
  private def integralIds(df: DataFrame, cols: String*): Boolean = {
    import org.apache.spark.sql.types._
    cols.forall(c => df.schema(c).dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    })
  }

  /** Driver-side guard for collecting a node/edge frame: true iff the
    * frame has at most `bnd` rows, established with a LIMIT-bounded
    * count so a frame far above the ceiling never ships to the
    * driver just to be rejected. */
  private def underBound(df: DataFrame, bnd: Long): Boolean = {
    val cap = math.min(bnd, Int.MaxValue - 1L).toInt
    df.limit(cap + 1).count() <= bnd
  }

  /** Weighted PageRank. `nodes`: one column `node`; `edges`:
    * `src, dst, w` (w > 0). Returns `(node, pr)` after `iters`
    * iterations of  pr'(v) = (1-d)/N + d * Σ_{u→v} pr(u) * w_uv / W_u.
    */
  def pageRank(nodes: DataFrame, edges: DataFrame,
      iters: Int = 5, damping: Double = 0.85,
      checkpointEvery: Int = 2): DataFrame = {
    require(checkpointEvery > 0, "checkpointEvery must be positive")
    // materialize the derived edge list ONCE (the distributed, scale-
    // bearing step); the iteration then runs on the driver when the
    // graph is broadcast-sized, distributed otherwise
    val eMat = Checkpoints.truncate(
      edges.select(col("src"), col("dst"), col("w").cast("double").as("w")))
    if (eMat.count() <= bound(eMat, SmallGraphBound)) {
      // bound the NODE side before collecting it — an edge-sparse,
      // vertex-heavy graph must be rejected by a limit-capped count,
      // not after the whole node set has already shipped to the driver
      if (underBound(nodes, bound(eMat, SmallGraphBound))) {
        val nodeArr = nodes.collect().map(_.get(0)) // bounded: just proven
        val eArr = eMat.collect()
          .map(r => (r.get(0), r.get(1), num(r.get(2))))
        Checkpoints.free(eMat)
        val nD = nodeArr.length.toDouble
        val ow = new java.util.HashMap[Any, Double]()
        eArr.foreach { case (s, _, w) => ow.merge(s, w, _ + _) }
        var pr = new java.util.HashMap[Any, Double]()
        nodeArr.foreach(v => pr.put(v, 1.0 / nD))
        for (_ <- 1 to iters) {
          val contrib = new java.util.HashMap[Any, Double]()
          eArr.foreach { case (s, d, w) =>
            if (pr.containsKey(s))
              contrib.merge(d, pr.get(s) * w / ow.get(s), _ + _)
          }
          val next = new java.util.HashMap[Any, Double]()
          nodeArr.foreach { v =>
            next.put(v, round9((1.0 - damping) / nD +
              damping * contrib.getOrDefault(v, 0.0)))
          }
          pr = next
        }
        import scala.jdk.CollectionConverters._
        val spark = nodes.sparkSession
        return spark.createDataFrame(
          nodeArr.toSeq.map(v =>
            org.apache.spark.sql.Row(v, pr.get(v))).asJava,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("node",
              nodes.schema.head.dataType),
            org.apache.spark.sql.types.StructField("pr",
              org.apache.spark.sql.types.DoubleType))))
      }
    }
    // N as a broadcast 1-row aggregate, not a driver-side count()
    val n = nodes.agg(count(lit(1)).cast("double").as("__n"))
    val outw = eMat.groupBy("src").agg(sum(col("w").cast("double")).as("ow"))
    val e = eMat.join(outw, "src")
      .select(col("src"), col("dst"), col("w").cast("double").as("w"), col("ow"))
      .cache()
    var ranks = nodes.join(broadcast(n), lit(true))
      .select(col("node"), (lit(1.0) / col("__n")).as("pr"))
    var prevCkpt: Option[DataFrame] = None
    for (i <- 1 to iters) {
      val contrib = e.join(ranks.withColumnRenamed("node", "src"), "src")
        .groupBy("dst").agg(sum(col("pr") * col("w") / col("ow")).as("c"))
        .withColumnRenamed("dst", "node")
      ranks = nodes.join(broadcast(n), lit(true))
        .join(contrib, Seq("node"), "left")
        .select(col("node"),
          round((lit(1.0) - lit(damping)) / col("__n")
            + lit(damping) * coalesce(col("c"), lit(0.0)), 9).as("pr"))
      // truncate the iterative lineage every `checkpointEvery` rounds:
      // every round costs an extra eager job; a small bounded plan-depth
      // window between truncations keeps analysis cost flat at half the
      // materializations. The superseded round's blocks are freed as
      // soon as its successor is materialized — only the FINAL
      // checkpoint (what the caller reads) stays pinned.
      if (i % checkpointEvery == 0 || i == iters) {
        ranks = Checkpoints.truncate(ranks)
        prevCkpt.foreach(Checkpoints.free)
        prevCkpt = Some(ranks)
      }
    }
    e.unpersist(false) // final ranks are materialized; edges are dead
    Checkpoints.free(eMat)
    ranks
  }

  /** The nation-level trade graph: an edge supplier-nation →
    * customer-nation per lineitem, aggregated to weights. The 100 TB
    * part of PageRank-over-TPC-H: three fact/dim joins and one
    * aggregation collapse the fact table to a |nations|² edge list.
    *
    * Join ORDER is the scale lever: each fact side resolves its OWN
    * dimension first (lineitem⋈supplier, orders⋈customer — both
    * narrow when the dim broadcasts, and each key column is consumed
    * immediately), so the one unavoidable big-big join on orderkey
    * carries a 4-byte nation id per side instead of dragging the
    * 8-byte supp/cust keys through the shuffle to be resolved after —
    * measured 4.8 → 3.3 s on the 100× decade (BASELINE.md "Round-15:
    * graph edge derivation — dims-first join order";
    * pre-aggregating lineitem before the big join was also measured
    * and REJECTED: the high-cardinality (orderkey, nation) hash agg
    * costs 2-3× more than it saves). customer/supplier scale WITH the
    * fact table in TPC-H, so their join strategy stays with
    * Catalyst/AQE (broadcast when they fit, shuffled-hash when they
    * don't) rather than forced — the measured gain needs no hint. */
  def tradeEdges(lineitem: DataFrame, orders: DataFrame,
      customer: DataFrame, supplier: DataFrame): DataFrame =
    tradeEdgesProjected(lineitem.select("l_orderkey", "l_suppkey"),
      orders.select("o_orderkey", "o_custkey"), customer, supplier)

  /** [[tradeEdges]] over the per-JVM ORDERKEY-BUCKETED fact layout
    * ([[graft.etl.FactBuckets]], guide §2.4/§6) when enabled (the
    * default): both fact projections scan with
    * `HashPartitioning(orderkey, n)` and a per-bucket sort, so the
    * one big-big join plans with ZERO Exchange and ZERO Sort on the
    * 100 TB side — the r15 decade table's standing 4–6× residual was
    * exactly this shuffle. Falls back to the raw projections (the
    * pre-r16 plan) when disabled or on any build failure; rows are
    * identical either way (FactBucketsSpec pins parity). */
  def tradeEdges(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val (li, od) = graft.etl.FactBuckets.orderkeyFacts(s, dir)
    tradeEdgesProjected(li, od,
      graft.etl.Tables.table(s, dir, "customer"),
      graft.etl.Tables.table(s, dir, "supplier"))
  }

  private def tradeEdgesProjected(li2: DataFrame, od2: DataFrame,
      customer: DataFrame, supplier: DataFrame): DataFrame = {
    val li = li2
      .join(supplier.select("s_suppkey", "s_nationkey"),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("l_orderkey"), col("s_nationkey"))
    val od = od2
      .join(customer.select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("c_nationkey"))
    li.join(od, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("s_nationkey").as("src"), col("c_nationkey").as("dst"))
      .agg(count(lit(1)).as("w"))
  }

  /** Per-node triangle counts over the undirected simple graph induced
    * by `edges` (`src`, `dst`; self-loops dropped, multi-edges and
    * directions collapsed). Output: (node, n_triangles) for nodes in
    * at least one triangle.
    *
    * Degree-oriented node-iterator (the MapReduce-era standard, e.g.
    * Suri & Vassilvitskii 2011): orient every edge from its
    * lower-(degree, id) endpoint to the higher one — a DAG in which
    * each triangle appears as exactly one wedge u→v, u→w plus closing
    * edge v→w. Out-degrees under this orientation are O(√m), so wedge
    * volume is Σ outdeg² ≤ m^1.5 instead of the Σ deg² a hub explodes
    * under the naive orientation — the skew guard that makes the join
    * survive power-law graphs. Three shuffle-on-key joins, one
    * aggregation; per-node counts are orientation-independent (each
    * triangle credits all three corners). */
  def triangles(edges: DataFrame): DataFrame = {
    val und0 = edges.where(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
    // broadcast-sized graphs: exact node-iterator on the driver (the
    // distributed path costs six tiny joins on a ≤|nations|² frame);
    // the wedge-quadratic worst case bounds the ceiling lower than
    // the linear operators'
    val undMat = Checkpoints.truncate(und0)
    if (integralIds(undMat, "a", "b") &&
        undMat.count() <= bound(undMat, SmallTriangleBound)) {
      val es = undMat.collect().map(r => (lng(r.get(0)), lng(r.get(1))))
      Checkpoints.free(undMat)
      val nbrs = new java.util.HashMap[Long, java.util.HashSet[Long]]()
      es.foreach { case (a, b) =>
        nbrs.computeIfAbsent(a, _ => new java.util.HashSet()).add(b)
        nbrs.computeIfAbsent(b, _ => new java.util.HashSet()).add(a)
      }
      val counts = new java.util.HashMap[Long, Long]()
      es.foreach { case (a, b) =>
        // count common neighbors ABOVE max(a,b)... no — credit every
        // corner: iterate the smaller adjacency set, require c > b to
        // count each triangle once per closing edge orientation a<b<c
        val (small, other) =
          if (nbrs.get(a).size() <= nbrs.get(b).size()) (nbrs.get(a), b)
          else (nbrs.get(b), a)
        small.forEach { c =>
          if (c > b && nbrs.get(other).contains(c)) {
            counts.merge(a, 1L, _ + _)
            counts.merge(b, 1L, _ + _)
            counts.merge(c, 1L, _ + _)
          }
        }
      }
      import scala.jdk.CollectionConverters._
      // the distributed path's node type is the INPUT id type — cast
      // back so the schema never depends on which path the size
      // switch took (values originated in that type, so the narrowing
      // cast is lossless)
      return edges.sparkSession.createDataFrame(
        counts.entrySet().asScala.toSeq.map(e =>
          org.apache.spark.sql.Row(e.getKey, e.getValue)).asJava,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("node",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("n_triangles",
            org.apache.spark.sql.types.LongType))))
        .select(col("node").cast(undMat.schema("a").dataType).as("node"),
          col("n_triangles"))
    }
    val und = undMat
    val deg = und.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val lower = col("da") < col("db") || (col("da") === col("db")
      && col("a") < col("b"))
    val oriented = und
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
      .select(when(lower, col("a")).otherwise(col("b")).as("u"),
        when(lower, col("b")).otherwise(col("a")).as("v"))
    val wedges = oriented
      .join(oriented.select(col("u").as("v"), col("v").as("w")), "v")
    val tri = wedges.join(oriented.select(col("u"), col("v").as("w")),
      Seq("u", "w"))
    tri.select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
  }

  /** BFS hop levels from `source` over the directed edge list:
    * (node, lvl) with lvl = the minimum hop count, nodes unreachable
    * within `maxHops` absent. Iterative frontier expansion — each hop
    * is one join of the CURRENT FRONTIER (not the visited set) against
    * the edges plus an anti-join against the visited set; O(diameter)
    * rounds, each checkpoint-truncated (the CC/PageRank lesson). The
    * per-hop emptiness probe is a bounded driver action on the
    * frontier — the loop-control edge, not a data collect. */
  def bfsLevels(edges: DataFrame, source: Long, maxHops: Int): DataFrame = {
    import edges.sparkSession.implicits._
    require(maxHops >= 0, "maxHops must be non-negative")
    // materialize the derived edge list once; broadcast-sized graphs
    // run the BFS on the driver (every frontier round was previously
    // re-executing the full derivation lineage through this join)
    val eMat = Checkpoints.truncate(edges.select(col("src"), col("dst")))
    if (integralIds(eMat, "src", "dst") &&
        eMat.count() <= bound(eMat, SmallGraphBound)) {
      val adj = new java.util.HashMap[Long, java.util.ArrayList[Long]]()
      eMat.collect().foreach { r =>
        adj.computeIfAbsent(lng(r.get(0)), _ => new java.util.ArrayList())
          .add(lng(r.get(1)))
      }
      Checkpoints.free(eMat)
      val lvl = new java.util.HashMap[Long, Long]()
      lvl.put(source, 0L)
      var frontier = Seq(source)
      var hop = 1L
      while (frontier.nonEmpty && hop <= maxHops) {
        frontier = frontier.flatMap { u =>
          Option(adj.get(u)).toSeq.flatMap { ns =>
            import scala.jdk.CollectionConverters._
            ns.asScala.filterNot(lvl.containsKey(_)).map { v =>
              lvl.put(v, hop); v
            }
          }
        }.distinct
        hop += 1
      }
      import scala.jdk.CollectionConverters._
      return edges.sparkSession.createDataFrame(
        lvl.entrySet().asScala.toSeq.map(e =>
          org.apache.spark.sql.Row(e.getKey, e.getValue)).asJava,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("node",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("lvl",
            org.apache.spark.sql.types.LongType))))
    }
    var levels = Checkpoints.truncate(Seq((source, 0L)).toDF("node", "lvl"))
    var frontier = levels
    var hop = 1L
    var done = maxHops == 0
    while (!done) {
      val next = Checkpoints.truncate(frontier
        .join(eMat, frontier("node") === eMat("src"))
        .select(col("dst").as("node")).distinct()
        .join(levels, Seq("node"), "left_anti")
        .withColumn("lvl", lit(hop)))
      if (next.isEmpty) { Checkpoints.free(next); done = true }
      else {
        val grown = Checkpoints.truncate(levels.union(next))
        // grown is materialized: the pre-union levels and the consumed
        // frontier (distinct from levels after round 1) are both dead
        Checkpoints.free(levels)
        if (frontier ne levels) Checkpoints.free(frontier)
        levels = grown
        frontier = next
        hop += 1
        if (hop > maxHops) done = true
      }
    }
    if (frontier ne levels) Checkpoints.free(frontier)
    Checkpoints.free(eMat)
    levels
  }

  /** Hop-bounded single-source shortest paths (non-negative weights):
    * (node, d) with d = the minimum total `w` over directed paths of
    * AT MOST `maxRounds` hops from `source`; nodes unreachable within
    * the bound absent. The hop bound is part of the SEMANTICS
    * (itinerary-style "cheapest route with ≤H legs"), not just a
    * safety valve — and unbounded SSSP is the fixed point (raise
    * `maxRounds` past the graph's hop-diameter and the loop exits
    * early on an empty frontier).
    *
    * Frontier Bellman-Ford: per round, one join of the IMPROVED-last-
    * round set (not the whole dist table) against the edges, one
    * min-reduce partial-agg shuffle on `dst`, one union+min with the
    * standing dist table; each round's table checkpoint-truncated and
    * the superseded one freed (the CC/PageRank lesson). Frontier-only
    * relaxation preserves the Bellman-Ford round invariant (dist
    * after round h = exact ≤h-hop minimum), which is what the
    * recursive-CTE oracle enumerates.
    *
    * Determinism: every path's cost is the same left-fold of adds in
    * any engine, and min over identical value sets is exact — no
    * rounding needed. */
  def ssspBounded(edges: DataFrame, source: Long,
      maxRounds: Int): DataFrame = {
    import edges.sparkSession.implicits._
    require(maxRounds >= 0, "maxRounds must be non-negative")
    // materialize the derived edge list once; broadcast-sized graphs
    // run the frontier Bellman-Ford on the driver — per-path add
    // order and min are identical to the distributed loop, so the
    // result is bit-equal (no rounding involved)
    val eMat = Checkpoints.truncate(
      edges.select(col("src"), col("dst"), col("w").cast("double").as("w")))
    if (integralIds(eMat, "src", "dst") &&
        eMat.count() <= bound(eMat, SmallGraphBound)) {
      val adj = new java.util.HashMap[Long, java.util.ArrayList[(Long, Double)]]()
      eMat.collect().foreach { r =>
        adj.computeIfAbsent(lng(r.get(0)), _ => new java.util.ArrayList())
          .add((lng(r.get(1)), num(r.get(2))))
      }
      Checkpoints.free(eMat)
      val dist = new java.util.HashMap[Long, Double]()
      dist.put(source, 0.0)
      var frontier: Seq[Long] = Seq(source)
      var round = 0
      while (frontier.nonEmpty && round < maxRounds) {
        val improved = scala.collection.mutable.LinkedHashSet.empty[Long]
        // snapshot the frontier's start-of-round distances: relaxing
        // from a value improved THIS round would sneak (h+1)-hop paths
        // into round h and break the hop-bound semantics the oracle
        // enumerates
        val duSnap = frontier.map(u => u -> dist.get(u)).toMap
        frontier.foreach { u =>
          val du = duSnap(u)
          Option(adj.get(u)).foreach { ns =>
            import scala.jdk.CollectionConverters._
            ns.asScala.foreach { case (v, w) =>
              val c = du + w
              if (!dist.containsKey(v) || c < dist.get(v)) {
                dist.put(v, c); improved.add(v)
              }
            }
          }
        }
        frontier = improved.toSeq
        round += 1
      }
      import scala.jdk.CollectionConverters._
      return edges.sparkSession.createDataFrame(
        dist.entrySet().asScala.toSeq.map(e =>
          org.apache.spark.sql.Row(e.getKey, e.getValue)).asJava,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("node",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("d",
            org.apache.spark.sql.types.DoubleType))))
    }
    var dist = Checkpoints.truncate(Seq((source, 0.0)).toDF("node", "d"))
    var frontier = dist
    var round = 0
    var done = maxRounds == 0
    while (!done) {
      val cand = frontier
        .join(eMat, frontier("node") === eMat("src"))
        .select(col("dst").as("node"),
          (frontier("d") + eMat("w")).as("c"))
        .groupBy("node").agg(min(col("c")).as("c"))
      val improved = Checkpoints.truncate(
        cand.join(dist.select(col("node"), col("d").as("__old")),
            Seq("node"), "left")
          .where(col("__old").isNull || col("c") < col("__old"))
          .select(col("node"), col("c").as("d")))
      if (improved.isEmpty) { Checkpoints.free(improved); done = true }
      else {
        val grown = Checkpoints.truncate(
          dist.unionByName(improved)
            .groupBy("node").agg(min(col("d")).as("d")))
        Checkpoints.free(dist)
        if (frontier ne dist) Checkpoints.free(frontier)
        dist = grown
        frontier = improved
        round += 1
        if (round >= maxRounds) done = true
      }
    }
    if (frontier ne dist) Checkpoints.free(frontier)
    Checkpoints.free(eMat)
    dist
  }
}
