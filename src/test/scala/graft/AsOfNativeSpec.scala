package graft

import org.apache.spark.sql.functions._

import graft.ops.AsOf

class AsOfNativeSpec extends SparkSpec {
  import spark.implicits._

  test("backward inclusive semantics with LEFT-outer nulls (hand case)") {
    val left = Seq(("a", 10L), ("a", 20L), ("a", 5L), ("b", 7L))
      .toDF("k", "ts")
    val right = Seq(("a", 10L, 1.0), ("a", 15L, 2.0), ("b", 9L, 9.0))
      .toDF("k", "rts", "v")
    val got = AsOf.joinAsOfNative(left, right, Seq("k"), "ts", "rts",
        Seq("v"))
      .select("k", "ts", "v").collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
    assert(got == Set(
      ("a", 10L, Some(1.0)), // inclusive bound
      ("a", 20L, Some(2.0)), // latest <= 20
      ("a", 5L, None),       // nothing effective yet
      ("b", 7L, None)))      // b's only row is later
  }

  test("a session without graft's strategy is refused with a pointer to GraftSession") {
    val bare = spark.newSession() // no extensions registered
    val left = bare.createDataFrame(Seq(("a", 1L))).toDF("k", "ts")
    val right = bare.createDataFrame(Seq(("a", 1L, 1.0))).toDF("k", "rts", "v")
    val e = intercept[IllegalArgumentException](
      AsOf.joinAsOfNative(left, right, Seq("k"), "ts", "rts", Seq("v")))
    assert(e.getMessage.contains("GraftSession"))
    assert(!bare.experimental.extraStrategies
      .contains(graft.plans.AsOfJoinStrategy))
  }

  test("native equals the composed union-window form on random data") {
    val rnd = new scala.util.Random(11)
    val left = (1 to 2000).map(i =>
      ("k" + rnd.nextInt(20), rnd.nextInt(1000).toLong, i.toLong))
      .toDF("k", "ts", "lid")
    val right = (1 to 800).map(i =>
      ("k" + rnd.nextInt(25), rnd.nextInt(1000).toLong, i.toLong,
        rnd.nextInt(100).toDouble))
      .toDF("k", "rts", "tie", "v")
    val native = AsOf.joinAsOfNative(left, right, Seq("k"), "ts", "rts",
      Seq("v"), rightTieBreak = Some("tie"))
    val composed = AsOf.joinAsOf(left, right,
      Seq("k"), "ts", "rts", Seq("v"), rightTieBreak = Some("tie"))
    val n = native.select("k", "ts", "lid", "v")
    val c = composed.select("k", "ts", "lid", "v")
    assert(n.exceptAll(c).isEmpty && c.exceptAll(n).isEmpty,
      n.exceptAll(c).take(3).mkString(" | "))
  }

  test("plans SortMergeAsOfJoin with one exchange+sort per side") {
    val left = (1 to 100).map(i => ("k" + (i % 5), i.toLong)).toDF("k", "ts")
    val right = (1 to 50).map(i => ("k" + (i % 7), i.toLong, i * 1.0))
      .toDF("k", "rts", "v")
    val df = AsOf.joinAsOfNative(left, right, Seq("k"), "ts", "rts", Seq("v"))
    df.collect() // force execution so the adaptive plan finalizes
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeAsOfJoin"), plan)
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges >= 2 && exchanges <= 4, s"exchanges=$exchanges\n$plan")
  }

  test("left and right derived from the SAME source (self as-of)") {
    val ev = graft.etl.Tables.table(spark, "/root/testdata/sf0.001",
      "events")
    val rates = ev.groupBy(col("user_id"),
        window(col("ts"), "1 day")("start").as("upd_ts"))
      .agg(round(avg(col("value")), 6).as("rate"))
      .select(col("user_id"), col("upd_ts"), col("rate"))
    val native = AsOf.joinAsOfNative(
      ev.select(col("event_id"), col("user_id"), col("ts")),
      rates, Seq("user_id"), "ts", "upd_ts", Seq("rate"))
    val composed = AsOf.joinAsOf(
      ev.select(col("event_id"), col("user_id"), col("ts")),
      rates, Seq("user_id"), "ts", "upd_ts", Seq("rate"))
    val n = native.select("event_id", "rate")
    val c = composed.select("event_id", "rate")
    assert(n.exceptAll(c).isEmpty && c.exceptAll(n).isEmpty)
    assert(native.count() == ev.count())
  }
}
