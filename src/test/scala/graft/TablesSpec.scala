package graft

import org.apache.spark.sql.functions._

/** Regression: the nanos→micros rebuild in `graft.etl.Tables` must be
  * exact integer division. `col("ts") / 1000L` promotes to double, and
  * nanos-since-epoch (~1.7e18) exceeds double's 53-bit exact range, so
  * the truncating cast lands 1µs low on a fraction of values — including
  * second-aligned boundaries, where window/session semantics diverge.
  */
class TablesSpec extends SparkSpec {

  test("nanos→micros conversion is exact, including double-unsafe values") {
    import spark.implicits._
    // second-aligned, hour-aligned, and +/-1ns neighbors around 1.7e18,
    // plus a sweep that is dense in the double-rounding failure zone
    val base = 1700000000000000000L
    val nanos = Seq(
      base, base - 1, base + 1, base + 999, base + 1000, base + 1001,
      base + 3600L * 1000000000L) ++ (0L until 2000L).map(i => base + i * 777777L)
    val dir = java.nio.file.Files.createTempDirectory("tables-spec").toString
    nanos.toDF("ts").write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = graft.etl.Tables.table(spark, dir, "events")
      .select(unix_micros(col("ts")).as("us")).as[Long].collect().sorted
    val want = nanos.map(_ / 1000L).sorted.toArray
    assert(got.toSeq == want.toSeq)
  }

  test("TIMESTAMP(NANOS) events read as exact micros on the engine session") {
    // fixtures/nanos/events.parquet (tools/gen_nanos_fixture.py) holds a
    // real TIMESTAMP(NANOS) column, which Spark rejects unless the engine
    // conf spark.sql.legacy.parquet.nanosAsLong is on
    import spark.implicits._
    val ev = graft.etl.Tables.table(spark, "fixtures/nanos", "events")
    assert(ev.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
    val got = ev.select(col("event_id"), unix_micros(col("ts")))
      .as[(Long, Long)].collect().sorted.toSeq
    assert(got == Seq(1L -> 1700000000000000L, 2L -> 1699999999999999L,
      3L -> 1700000000000000L, 4L -> 1700000000000000L,
      5L -> 1700000000000001L, 6L -> 1700000000000001L,
      7L -> 1700003600000000L, 8L -> 1700000000000777L,
      9L -> 1700000000001555L))
  }

  test("TIMESTAMP_NTZ events normalize to session-zoned micros (round-6 testdata shape)") {
    import spark.implicits._
    // Write a timestamp[us] isAdjustedToUTC=false file the way the driver
    // does: an NTZ column. Spark 4 infers TIMESTAMP_NTZ on read; Tables
    // must rewrite it to TimestampType with the naive-as-UTC micro values.
    val dir = java.nio.file.Files.createTempDirectory("tables-ntz").toString
    val micros = Seq(1700000000000000L, 1700000000000001L, 1700003600123456L)
    micros.toDF("us")
      .select(col("us"),
        timestamp_micros(col("us")).cast("timestamp_ntz").as("ts"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val raw = spark.read.parquet(s"$dir/events.parquet")
    assert(raw.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampNTZType, "fixture must be NTZ")
    val got = graft.etl.Tables.table(spark, dir, "events")
    assert(got.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
    val back = got.select(unix_micros(col("ts")).as("us")).as[Long].collect().sorted
    assert(back.toSeq == micros.sorted)
  }

  /** `df` written as ONE plain parquet file at `path` (the testdata
    * layout), replacing whatever file was there. */
  private def writeSingleFile(df: org.apache.spark.sql.DataFrame,
      path: String): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("tables-single")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = tmp.toFile.listFiles().find(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(path),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** `body`'s result and the number of Spark jobs it ran. Listener
    * events arrive in order, so once a sentinel job submitted after
    * `body` has been seen, every job of `body` has been counted. */
  private def withJobCount[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val id = java.util.UUID.randomUUID().toString
    val (group, sentinel) = (s"tables-spec-$id", s"tables-sentinel-$id")
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).foreach(groups.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      val r = try body finally sc.clearJobGroup()
      sc.setJobGroup(sentinel, "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!groups.contains(sentinel) && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(groups.contains(sentinel), "listener never saw the sentinel job")
      (r, groups.toArray.count(_ == group))
    } finally sc.removeSparkListener(listener)
  }

  test("a repeated read of an unchanged single-file source runs no Spark job") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("tables-once").toString
    writeSingleFile((1L to 100L).map(i => (i, s"s$i", i * 0.5))
      .toDF("id", "s", "v"), s"$dir/t.parquet")
    val (first, firstJobs) = withJobCount(graft.etl.Tables.table(spark, dir, "t"))
    assert(firstJobs == 0, s"first read ran $firstJobs job(s)")
    val (second, secondJobs) =
      withJobCount(graft.etl.Tables.table(spark, dir, "t"))
    assert(secondJobs == 0, s"second read ran $secondJobs job(s)")
    val inferred = spark.read.parquet(s"$dir/t.parquet").schema
    assert(first.schema == inferred && second.schema == inferred)
    assert(second.orderBy("id").collect().toSeq ==
      spark.read.parquet(s"$dir/t.parquet").orderBy("id").collect().toSeq)
  }

  test("a rewritten single-file source is read with its new schema") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("tables-rewrite").toString
    val path = s"$dir/t.parquet"
    writeSingleFile((1L to 10L).map(i => (i, i * 2L)).toDF("id", "v"), path)
    assert(graft.etl.Tables.table(spark, dir, "t").columns.toSeq == Seq("id", "v"))
    writeSingleFile((1L to 10L).map(i => (i, i * 2L, s"e$i"))
      .toDF("id", "v", "extra"), path)
    val after = graft.etl.Tables.table(spark, dir, "t")
    assert(after.columns.toSeq == Seq("id", "v", "extra"))
    assert(after.where(col("id") === 3L).select("extra").as[String]
      .collect().toSeq == Seq("e3"))
  }

  /** `dir/t.parquet` from a non-Spark writer: a plain BINARY column with
    * no string annotation and no Spark schema in the footer, so the
    * inferred type depends on binaryAsString. */
  private def writeBinaryFile(dir: String): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroup
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      "message t { required int64 id; required binary b; }")
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
        new org.apache.hadoop.fs.Path(s"$dir/t.parquet"),
        spark.sparkContext.hadoopConfiguration))
      .withType(schema).build()
    try for (i <- 1 to 3) {
      val g = new SimpleGroup(schema)
      g.add("id", i.toLong)
      g.add("b", s"b$i")
      w.write(g)
    } finally w.close()
  }

  /** `body` with `key` set to `value` on the shared session, then the
    * prior setting restored. */
  private def withConf[T](key: String, value: String)(body: => T): T = {
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("the cached schema follows spark.sql.parquet.binaryAsString") {
    import org.apache.spark.sql.types.{BinaryType, StringType}
    val dir = java.nio.file.Files.createTempDirectory("tables-binary").toString
    writeBinaryFile(dir)
    val key = "spark.sql.parquet.binaryAsString"
    val prior = spark.conf.getOption(key)
    def bType = graft.etl.Tables.table(spark, dir, "t").schema("b").dataType
    try {
      spark.conf.set(key, "false")
      assert(bType == BinaryType)
      spark.conf.set(key, "true")
      assert(bType == StringType)
      assert(graft.etl.Tables.table(spark, dir, "t").orderBy("id")
        .select("b").collect().map(_.getString(0)).toSeq == Seq("b1", "b2", "b3"))
      spark.conf.set(key, "false")
      assert(bType == BinaryType)
      spark.conf.unset(key)
      assert(bType == spark.read.parquet(s"$dir/t.parquet").schema("b").dataType)
    } finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("a footer read on the driver gives the schema Spark's inference job finds") {
    import graft.etl.Tables.footerSchema
    def same(paths: String*): Unit = {
      val (got, jobs) = withJobCount(footerSchema(spark, paths))
      assert(jobs == 0, s"$paths: $jobs job(s)")
      assert(got.contains(spark.read.parquet(paths: _*).schema), paths)
    }
    val sf = new java.io.File("/root/testdata/sf0.001")
    val tables = sf.list().toSeq.filter(_.endsWith(".parquet")).sorted
    assert(tables.size == 10, tables)
    tables.foreach(t => same(s"$sf/$t"))
    same("fixtures/nanos/events.parquet")
    val bin = java.nio.file.Files.createTempDirectory("tables-footer-bin").toString
    writeBinaryFile(bin)
    for (v <- Seq("true", "false"))
      withConf("spark.sql.parquet.binaryAsString", v)(same(s"$bin/t.parquet"))
    // a Spark-written directory: _SUCCESS and .crc files skipped, first
    // part file by path read
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("tables-footer-dir").toString
    (1L to 40L).map(i => (i, s"s$i")).toDF("id", "s").repartition(4)
      .write.mode("overwrite").parquet(dir)
    same(dir)
    // what the driver cannot answer exactly is left to Spark
    assert(withConf("spark.sql.parquet.mergeSchema", "true")(
      footerSchema(spark, Seq(dir))).isEmpty)
    val parted = java.nio.file.Files.createTempDirectory("tables-footer-part").toString
    (1L to 10L).map(i => (i, i % 2)).toDF("id", "p")
      .write.mode("overwrite").partitionBy("p").parquet(parted)
    assert(footerSchema(spark, Seq(parted)).isEmpty)
    assert(footerSchema(spark, Seq(s"$dir/missing")).isEmpty)
  }

  test("a directory source is inferred on every read and sees new files") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("tables-dir").toString
    (1L to 50L).toDF("id").write.parquet(s"$dir/t.parquet")
    val first = graft.etl.Tables.table(spark, dir, "t")
    assert(first.schema == spark.read.parquet(s"$dir/t.parquet").schema)
    assert(first.count() == 50)
    (51L to 80L).map(i => (i, s"n$i")).toDF("id", "note")
      .write.mode("append").parquet(s"$dir/t.parquet")
    val (second, jobs) = withJobCount(graft.etl.Tables.table(spark, dir, "t"))
    assert(jobs >= 1, "a directory source keeps Spark's inference")
    assert(second.count() == 80 &&
      second.agg(sum("id")).as[Long].head() == 80L * 81 / 2)
  }

  test("TRIPWIRE: driver testdata physical shape matches what graft normalizes for") {
    // Round 6 lost six queries SILENTLY when the driver regenerated
    // events.parquet with ts as timestamp[us]/NTZ instead of
    // TIMESTAMP(NANOS)-as-long. This spec pins the raw shape of every
    // testdata table so the next regeneration fails HERE, with a message
    // naming the drifted column, not downstream in an analysis error.
    import org.apache.spark.sql.types._
    val dir = "/root/testdata/sf0.001"
    def raw(name: String) = spark.read.parquet(s"$dir/$name.parquet").schema
    val evTs = raw("events").find(_.name == "ts").map(_.dataType)
    val handled: Set[DataType] = Set(LongType, TimestampNTZType, TimestampType)
    assert(evTs.exists(handled.contains),
      s"TESTDATA DRIFT: events.ts is $evTs — not a layout " +
        s"graft.etl.Tables.normalizeEventTime handles ($handled). " +
        "Update Tables.normalizedTs for the new physical type.")
    // And the normalized contract every operator relies on:
    assert(graft.etl.Tables.table(spark, dir, "events")
      .schema("ts").dataType == TimestampType,
      "Tables.table must always yield a session-zoned TimestampType ts")
    // Key columns of the other hot tables: a type drift here breaks
    // encoders/joins quietly, so name them explicitly.
    val docSchema = raw("documents")
    assert(docSchema.find(_.name == "doc_id").exists(_.dataType == LongType)
      && docSchema.find(_.name == "text").exists(_.dataType == StringType),
      s"TESTDATA DRIFT: documents schema changed: $docSchema")
    val embSchema = raw("embeddings")
    assert(embSchema.find(_.name == "embedding").exists(f =>
      f.dataType.isInstanceOf[ArrayType] &&
        f.dataType.asInstanceOf[ArrayType].elementType == FloatType),
      s"TESTDATA DRIFT: embeddings.embedding changed: $embSchema")
    assert(embSchema.find(_.name == "vec_id").exists(_.dataType == LongType),
      s"TESTDATA DRIFT: embeddings.vec_id changed: $embSchema")
    val liSchema = raw("lineitem")
    assert(liSchema.find(_.name == "l_quantity").isDefined
      && liSchema.find(_.name == "l_shipdate").isDefined,
      s"TESTDATA DRIFT: lineitem schema changed: $liSchema")
    // join-key columns of the dimension tables: a renamed or retyped
    // key breaks every TPC-H-shaped gate at once
    val keyCols = Seq(
      "orders" -> Seq("o_orderkey", "o_custkey", "o_orderdate"),
      "customer" -> Seq("c_custkey", "c_nationkey", "c_mktsegment"),
      "part" -> Seq("p_partkey", "p_size"),
      "supplier" -> Seq("s_suppkey", "s_nationkey"),
      "nation" -> Seq("n_nationkey", "n_regionkey", "n_name"),
      "region" -> Seq("r_regionkey", "r_name"))
    for ((tbl, cols) <- keyCols; c <- cols)
      assert(raw(tbl).find(_.name == c).isDefined,
        s"TESTDATA DRIFT: $tbl lost column $c: ${raw(tbl)}")
  }

  test("parquet schema evolution: mergeSchema unions columns, old rows null-fill") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("evolve").toString
    // v1 writer: (id, v); later writer adds a column (id, v, tag)
    (1L to 100L).map(i => (i, i * 2.0)).toDF("id", "v")
      .write.mode("append").parquet(dir)
    (101L to 150L).map(i => (i, i * 2.0, s"t${i % 3}")).toDF("id", "v", "tag")
      .write.mode("append").parquet(dir)
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.sorted.toSeq == Seq("id", "tag", "v"))
    assert(merged.count() == 150)
    // pre-evolution rows surface the new column as null
    assert(merged.where($"id" <= 100 && $"tag".isNull).count() == 100)
    assert(merged.where($"id" > 100 && $"tag".isNotNull).count() == 50)
  }

  test("ORC round-trips with predicate pushdown (second columnar format)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("orc-spec").toString
    val df = (1L to 5000L).map(i => (i, s"cat${i % 7}", i * 1.5))
      .toDF("id", "cat", "v")
    df.write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir)
    assert(back.count() == 5000
      && back.agg(sum($"id")).head().getLong(0) == 5000L * 5001 / 2)
    // selective filter reaches the ORC reader as a pushed filter
    val plan = back.where($"cat" === "cat3").queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters:") && plan.contains("cat3"), plan)
    assert(back.where($"cat" === "cat3").count() == df.where($"cat" === "cat3").count())
  }
}
