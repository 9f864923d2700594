package graft

/** Dev tool: formatted plans of the trade-edge derivation with the
  * orderkey-BUCKETED fact layout vs the raw-projection fallback
  * (`runMain graft.ExplainTrade <sfDir>`), each under default planner
  * thresholds AND with broadcast disabled (the big-big posture the
  * 100× decade takes) — the r16 item-1 plan receipts. */
object ExplainTrade {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession.create()
    spark.sparkContext.setLogLevel("ERROR")
    for (bucketed <- Seq(false, true); bigBig <- Seq(false, true)) {
      val noBroadcast = if (!bigBig) Nil else Seq(
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
      val s = GraftSession.child(spark,
        ("spark.graft.graph.bucketedFacts" -> bucketed.toString) +: noBroadcast: _*)
      val df = graft.ops.Graph.tradeEdges(s, dir)
      GraftSession.write(df).format("noop").mode("overwrite").save()
      val plan = df.queryExecution.executedPlan.toString
      val orderkeyEx = "hashpartitioning\\((l|o)_orderkey".r
        .findAllIn(plan).length
      println(s"=== tradeEdges bucketed=$bucketed bigBig=$bigBig " +
        s"orderkeyExchanges=$orderkeyEx")
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
