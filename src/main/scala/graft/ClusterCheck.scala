package graft

import org.apache.spark.sql.SparkSession

/** Cluster-honesty main: re-runs representative gates on a REAL
  * multi-process master (`local-cluster[2,4,2048]` — two separate
  * executor JVMs, shuffles over loopback, no shared block manager) in
  * `reliable` checkpoint mode, and asserts row-identical results
  * against the in-process `local[*]` run. This is the evidence that no
  * operator depends on single-JVM state: localCheckpoint co-residency,
  * driver-side accumulation, or block-manager locality.
  *
  * Gates chosen to cover the riskiest shapes: q67 (iterative connected
  * components — the checkpoint loop), q98 (BFS — same family, global
  * aggregation per hop), q178 (materialized-agg refresh — writes and
  * re-reads its own state files across executors), q152 (salted skew
  * join — partition-count-sensitive), q15 (LSH banded join).
  *
  *   SPARK_SCALA_VERSION=2.13 sbt "runMain graft.ClusterCheck /root/testdata/sf0.001"
  *
  * (The env var is required because the in-JVM worker builds executor
  * commands through the launcher's AbstractCommandBuilder, which
  * resolves the Scala dir from that variable when not started via
  * spark-class.) Prints one JSON line; exits nonzero on any mismatch.
  * Round-10 record on this box: all five gates true, 2 executor JVMs. */
object ClusterCheck {

  private val Gates = Seq("q67_dedup_clusters", "q98_bfs_levels",
    "q178_incremental_agg", "q152_skew_salted_join", "q15_minhash_lsh",
    // round 10 second wave: optimizer-substituted MV reads and the
    // zone-map append/prune path both write+re-read their own files
    // across executor JVMs
    "q226_mv_rewrite", "q236_zonemap_append",
    // round 12: version-aware compaction + vacuum — new files written
    // by executor JVMs, manifests committed/dropped and files
    // reclaimed driver-side, retained snapshot re-read across JVMs
    "q258_retention",
    // round 12: maintained join — bucket-partitioned side/join state
    // written and re-read across executor JVMs, dynamic-overwrite
    // refresh appends
    "q259_maintained_join",
    // round 13: the reworked expression-backed ops — SuffixPrefixes
    // (generator-shaped array expression) and UnigramSegment (vocab
    // Seqs + transient lazy map inside the expression) must SERIALIZE
    // into executor task binaries, which single-JVM local[*] runs
    // never prove
    "q208_suffix_ranks", "q203_unigram_cost",
    // round 14: the Par-overlapped CDC→join composition — concurrent
    // job submission from daemon driver threads against REAL executor
    // RPC (local[*] never proves thread-safe submission), plus the
    // overlapped create/refresh landings re-read across JVMs
    "q261_cdc_join",
    // round 15: the inline hybrid — its correctness AND its cost model
    // depend on ReuseExchange collapsing four consumers onto one
    // compact posting exchange, and stage reuse can differ on real
    // executors vs local[*]; the row check runs here and the exchange
    // count is asserted separately below (see `q112PlanShared`)
    "q112_hybrid_rrf",
    // late round 15: the PrebuiltState serve path — the trade-edge
    // state is INVALIDATED between the local and cluster phases (see
    // main), so the cluster run proves the build (executor-written
    // parquet under a driver-registered pinned dir) AND the
    // cross-JVM read + distributed BFS serve
    "q273_bfs_read",
    // round 16: the orderkey-BUCKETED fact layout (FactBuckets) — the
    // state is invalidated between phases (see main) so the cluster
    // run proves the bucketed-table BUILD on real executors AND the
    // zero-exchange bucketed join across JVMs; the plan-shape claim is
    // asserted separately below (`q238BucketedPlan`)
    "q238_degree_dist")

  /** The q112 plan assertion on a given session (PlanQualitySpec:
    * "inline hybrid materializes the posting pipeline exactly once",
    * re-run against cluster executors): with AQE off, the static
    * planner must share the compact entries exchange (ReusedExchange
    * present, ≤5 live copies). */
  private def q112PlanShared(spark: SparkSession, dir: String): Boolean = {
    val s2 = GraftSession.child(spark, "spark.sql.adaptive.enabled" -> "false")
    GraftExtensions.register(s2)
    val plan = SparkEntry.queries("q112_hybrid_rrf")(s2, dir)
      .queryExecution.executedPlan.toString
    val live = plan.linesIterator
      .filter(l => l.contains("Exchange hashpartitioning(doc_id")
        && !l.contains("ReusedExchange")).size
    val ok = plan.contains("ReusedExchange") && live <= 5
    if (!ok) System.err.println(
      s"[cluster-check] q112 plan not shared ($live live exchanges)")
    ok
  }

  /** The round-16 bucketed-fact plan assertion, against the given
    * session's planner: q238's big-big orderkey join over the
    * FactBuckets layout must plan with ZERO exchange on either fact
    * side (the scan's bucket partitioning IS the join distribution —
    * an `Exchange hashpartitioning(<orderkey>)` anywhere in the plan
    * means the layout was not picked up). */
  private def q238BucketedPlan(spark: SparkSession, dir: String): Boolean = {
    val plan = SparkEntry.queries("q238_degree_dist")(spark, dir)
      .queryExecution.executedPlan.toString
    val ok = !plan.contains("hashpartitioning(l_orderkey") &&
      !plan.contains("hashpartitioning(o_orderkey")
    if (!ok) System.err.println(
      s"[cluster-check] q238 plans an orderkey exchange:\n$plan")
    ok
  }

  private val AddOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar")
    .map(p => s"--add-opens $p=ALL-UNNAMED").mkString(" ")

  private def run(spark: SparkSession, dir: String,
      name: String): Seq[String] = {
    // force the DISTRIBUTED loops: the bounded driver fast paths
    // (Graph / Dedup components) would otherwise shortcut the very
    // cross-JVM iteration shapes this gate exists to prove
    spark.conf.set("spark.graft.graph.smallBound", "0")
    spark.conf.set("spark.graft.cc.smallBound", "0")
    val rows = SparkEntry.queries(name)(spark, dir)
      .collect().map(_.toString).toSeq
    graft.etl.Checkpoints.sweep(spark)
    graft.etl.Scratch.sweep()
    rows.sorted
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")

    val local = GraftSession.create("local[4]",
      "spark.sql.shuffle.partitions" -> "8")
    val expected = Gates.map(g => g -> run(local, dir, g)).toMap
    local.stop()
    // force the cluster phase to REBUILD prebuilt state with real
    // executors (the local phase built it in-JVM above)
    graft.etl.PrebuiltState.invalidate("tradeEdges")
    graft.etl.PrebuiltState.invalidate("factBuckets")
    graft.etl.PrebuiltState.invalidate("suppCustPairs")

    // two worker JVMs x 4 cores x 2 GiB; the forked sbt JVM's literal
    // classpath (target/classes + /opt/spark/jars) is handed to the
    // executor processes, which also need the JDK17 add-opens flags
    val cluster = GraftSession.create("local-cluster[2,4,2048]",
      "spark.executor.extraClassPath" -> System.getProperty("java.class.path"),
      "spark.executor.extraJavaOptions" -> AddOpens,
      "spark.graft.checkpoint.mode" -> "reliable")
    val verdicts = Gates.map { g =>
      val ok =
        try run(cluster, dir, g) == expected(g)
        catch { case e: Throwable =>
          System.err.println(s"[cluster-check] $g threw: ${e.getMessage}")
          false
        }
      g -> ok
    }
    // the q112 exchange-sharing plan assertion, against the CLUSTER
    // session's planner (round-15 brief item 6)
    val planVerdict = "q112_plan_shared" ->
      (try q112PlanShared(cluster, dir)
       catch { case e: Throwable =>
         System.err.println(s"[cluster-check] q112 plan check threw: ${e.getMessage}")
         false
       })
    // the bucketed-fact zero-exchange plan assertion, against the
    // CLUSTER session's planner (round-16 brief item 1)
    val bucketedVerdict = "q238_bucketed_plan" ->
      (try q238BucketedPlan(cluster, dir)
       catch { case e: Throwable =>
         System.err.println(s"[cluster-check] q238 plan check threw: ${e.getMessage}")
         false
       })
    val nExec = cluster.sparkContext.statusTracker.getExecutorInfos.length
    cluster.stop()

    val all = verdicts :+ planVerdict :+ bucketedVerdict
    val json = all.map { case (g, ok) => s""""$g":$ok""" }
      .mkString("{", ",", s""","executors":$nExec}""")
    println(json)
    if (all.exists(!_._2)) sys.exit(1)
  }
}
