package graft

import org.apache.spark.sql.functions._

/** The round-16 orderkey-bucketed fact layout (graft.etl.FactBuckets):
  * parity with the raw-projection fallback, and the plan shape the
  * layout exists for — zero Exchange on either fact side of the
  * orderkey join. */
class FactBucketsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("bucketed tradeEdges rows are identical to the raw-projection fallback") {
    val bucketed = graft.ops.Graph.tradeEdges(spark, dir)
      .orderBy("src", "dst").collect().map(_.toSeq)
    // fallback session: bucketing disabled -> the pre-r16 plan
    val s2 = spark.newSession()
    s2.conf.set("spark.graft.graph.bucketedFacts", "false")
    val raw = graft.ops.Graph.tradeEdges(s2, dir)
      .orderBy("src", "dst").collect().map(_.toSeq)
    assert(raw.nonEmpty && bucketed.toSeq == raw.toSeq)
    // and both equal the 4-frame overload (the public from-tables form)
    def t(n: String) = graft.etl.Tables.table(spark, dir, n)
    val tables = graft.ops.Graph.tradeEdges(t("lineitem"), t("orders"),
        t("customer"), t("supplier"))
      .orderBy("src", "dst").collect().map(_.toSeq)
    assert(tables.toSeq == bucketed.toSeq)
  }

  test("the bucketed orderkey join plans with zero exchange and zero sort on the fact sides") {
    // at sf0.001 the planner correctly broadcasts the tiny orders side
    // (also exchange-free); the claim under test is the BIG-BIG
    // posture, so force the non-broadcast path the 100× decade takes
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    val (li, od) = graft.etl.FactBuckets.orderkeyFacts(s2, dir)
    val joined = li.join(od, col("l_orderkey") === col("o_orderkey"))
    joined.write.format("noop").mode("overwrite").save()
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("hashpartitioning(l_orderkey") &&
      !plan.contains("hashpartitioning(o_orderkey"),
      s"orderkey exchange in bucketed join plan:\n$plan")
    // one sorted file per bucket -> the scan's order is trusted and
    // sort-merge needs no Sort node (a hash join has none either way)
    assert(!plan.contains("Sort ["),
      s"sort above the bucketed scans:\n$plan")
    assert(plan.contains("SelectedBucketsCount") || plan.contains("Bucketed: true"),
      s"join does not scan the bucketed layout:\n$plan")
  }

  test("q238 over the bucketed layout matches the raw plan's rows") {
    val bucketed = SparkEntry.queries("q238_degree_dist")(spark, dir)
      .collect().map(_.toSeq)
    val s2 = spark.newSession()
    s2.conf.set("spark.graft.graph.bucketedFacts", "false")
    val raw = SparkEntry.queries("q238_degree_dist")(s2, dir)
      .collect().map(_.toSeq)
    assert(raw.nonEmpty && bucketed.toSeq == raw.toSeq)
  }
}
