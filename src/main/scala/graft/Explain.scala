package graft

/** Dev tool: print the formatted physical plan of one or more gate
  * queries (`runMain graft.Explain <sfDir> <queryPrefix>...`) — the
  * explain-and-iterate loop for shuffle/pushdown/codegen auditing
  * without wiring a notebook. Summarizes exchange/reuse/window counts
  * per query so plan regressions show up as one greppable line. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val prefixes = args.drop(1)
    val spark = GraftSession.create()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.select(prefixes.toSeq).foreach { g =>
      val name = g.name
      try {
        val df = g.build(spark, sfDir)
        // with AQE, exchange reuse only materializes in the FINAL
        // adaptive plan — execute first so the counts are honest
        if (sys.env.get("GRAFT_EXPLAIN_EXEC").contains("1")) df.count()
        val plan = df.queryExecution.executedPlan.toString
        def n(re: String) = re.r.findAllIn(plan).length
        println(s"=== $name: exchanges=${n("Exchange")} " +
          s"reused=${n("ReusedExchange")} windows=${n(raw"\bWindow\b")} " +
          s"hashAgg=${n("HashAggregate")} sortAgg=${n("SortAggregate")} " +
          s"bhj=${n("BroadcastHashJoin")} smj=${n("SortMergeJoin")} " +
          s"nlj=${n("BroadcastNestedLoopJoin")}")
        if (sys.env.get("GRAFT_EXPLAIN_FULL").contains("1"))
          println(df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
      } catch { case e: Throwable =>
        println(s"=== $name: ERROR ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
