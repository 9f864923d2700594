package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import graft.etl._

class EtlSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(prefix: String) =
    Files.createTempDirectory(prefix).toString

  private def write(dir: String, name: String, body: String): Unit =
    Files.write(Paths.get(dir, name), body.getBytes(StandardCharsets.UTF_8))

  test("readJsonArrayDir reads arrays across files, tolerates bad files") {
    val dir = tmpDir("jsondir")
    write(dir, "data_all_2000.json",
      """[{"countryCode": 1, "countryName": "Brazil", "carbon": 1.5, "year": 2000},
        | {"countryCode": 2, "countryName": "Chile", "carbon": 0.5, "year": 2000}]""".stripMargin)
    write(dir, "data_all_2001.json",
      """[{"countryCode": 1, "countryName": "Brazil", "carbon": 2.5, "year": 2001}]""")
    write(dir, "data_all_2002.json", "NOT JSON AT ALL {{{")
    val df = JsonDirSource.readJsonArrayDir(spark, dir)
    assert(df.count() == 3)
    assert(df.columns.sorted.toSeq ==
      Seq("carbon", "countryCode", "countryName", "year"))
  }

  test("renames: map-driven and mechanical camelToSnake") {
    val df = Seq((1, "x")).toDF("countryCode", "shortName")
    assert(Renames.applyMap(df, Renames.FootprintRenames).columns.toSeq ==
      Seq("country_code", "short_name"))
    assert(Renames.camelToSnakeAll(df).columns.toSeq ==
      Seq("country_code", "short_name"))
  }

  test("overwritePath is an idempotent full refresh") {
    val path = tmpDir("sink") + "/t"
    WarehouseSink.overwritePath(Seq((1, "a"), (2, "b")).toDF("k", "v"), path)
    WarehouseSink.overwritePath(Seq((3, "c")).toDF("k", "v"), path)
    val back = spark.read.parquet(path)
    assert(back.count() == 1 && back.head().getInt(0) == 3)
  }

  test("upsertByKey replaces matching keys, appends new, idempotent") {
    val table = "graft_upsert_t"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    WarehouseSink.upsertByKey(
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), table, Seq("k"))
    WarehouseSink.upsertByKey(
      Seq((2L, "B2"), (3L, "c")).toDF("k", "v"), table, Seq("k"))
    val got = spark.table(table).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "a", 2L -> "B2", 3L -> "c"))
    // idempotent: re-applying the same batch changes nothing
    WarehouseSink.upsertByKey(
      Seq((2L, "B2"), (3L, "c")).toDF("k", "v"), table, Seq("k"))
    assert(spark.table(table).count() == 3)
    spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("renameColumn: catalog-level ALTER on a managed table (ipynb cell 5 parity)") {
    val table = "graft_rename_t"
    Seq((1, "a"), (2, "b")).toDF("retunr_type", "v")
      .write.mode("overwrite").saveAsTable(table)
    WarehouseSink.renameColumn(spark, table, "retunr_type", "return_type")
    val back = spark.table(table)
    assert(back.columns.toSeq == Seq("return_type", "v"))
    assert(back.count() == 2)
    assert(back.where($"return_type" === 1).count() == 1)
    spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("retry: transient 5xx then success, with reference backoff shape") {
    val attempts = new AtomicInteger(0)
    val delays = scala.collection.mutable.ArrayBuffer[Double]()
    val transport: RestSource.Transport = _ =>
      if (attempts.incrementAndGet() < 3) RestSource.Response(503, "boom")
      else RestSource.Response(200, "ok")
    val out = RestSource.fetchWithRetry(transport, RestSource.Policy(),
      "u", sleep = delays.append(_), jitter = () => 0.5)
    assert(out == Right("ok") && attempts.get() == 3)
    // delay_0 = 1.0; delay_1 = min(1.0 * 2 * 1.5, 60) = 3.0
    assert(delays.toSeq == Seq(1.0, 3.0))
  }

  test("retry: 4xx is permanent fail-fast; exhaustion reported") {
    val calls = new AtomicInteger(0)
    val notFound: RestSource.Transport =
      _ => { calls.incrementAndGet(); RestSource.Response(404, "nope") }
    val r = RestSource.fetchWithRetry(notFound, RestSource.Policy(), "u",
      sleep = _ => (), jitter = () => 0.0)
    assert(r.isLeft && r.swap.toOption.get.attempts == 1 && calls.get() == 1)
    val always503: RestSource.Transport =
      _ => RestSource.Response(503, "still down")
    val ex = RestSource.fetchWithRetry(always503, RestSource.Policy(), "u",
      sleep = _ => (), jitter = () => 0.0)
    assert(ex.isLeft && ex.swap.toOption.get.attempts == 5)
  }

  test("landAll: bounded concurrency, idempotent skip, error summary") {
    val dir = tmpDir("land")
    val inFlight = new AtomicInteger(0)
    val maxSeen = new AtomicInteger(0)
    val transport: RestSource.Transport = url => {
      val now = inFlight.incrementAndGet()
      maxSeen.getAndUpdate(m => math.max(m, now))
      Thread.sleep(20)
      inFlight.decrementAndGet()
      if (url.endsWith("/1999")) RestSource.Response(418, "teapot")
      else RestSource.Response(200, s"""[{"y": "$url"}]""")
    }
    val keys = (1999 to 2010).map(_.toString)
    val (ok, errs) = RestSource.landAll(transport, RestSource.Policy(),
      keys, y => s"http://api.test/data/all/$y", dir,
      sleep = _ => (), jitter = () => 0.0)
    assert(ok.size == 11 && errs.size == 1 && errs.head.key == "1999")
    assert(maxSeen.get() <= 5, s"concurrency ${maxSeen.get()} exceeded cap")
    // second run: everything cached, transport never called for landed keys
    val calls2 = new AtomicInteger(0)
    val counting: RestSource.Transport = url => {
      calls2.incrementAndGet()
      RestSource.Response(200, """[{"y": 1}]""")
    }
    val (ok2, errs2) = RestSource.landAll(counting, RestSource.Policy(),
      keys, y => s"http://api.test/data/all/$y", dir,
      sleep = _ => (), jitter = () => 0.0)
    assert(ok2.size == 12 && errs2.isEmpty && calls2.get() == 1)
  }

  test("full S1->S8 chain: REST landing feeds the footprint pipeline") {
    val dir = tmpDir("chain")
    // fake GFN API: per-year JSON array bodies with camelCase keys
    val transport: RestSource.Transport = url => {
      val year = url.split("/").last
      RestSource.Response(200,
        s"""[{"countryCode": 21, "countryName": "Brazil", "shortName": "BRA",
           |  "isoa2": "BR", "record": "EFConsPerCap", "cropLand": 0.6,
           |  "grazingLand": 0.2, "forestLand": 0.3, "fishingGround": 0.1,
           |  "builtupLand": 0.05, "carbon": 1.$year, "value": 2.35,
           |  "score": "3A", "year": $year}]""".stripMargin)
    }
    val (landed, errs) = RestSource.landAll(transport, RestSource.Policy(),
      Seq("2000", "2001", "2002"), y => s"http://api.test/data/all/$y", dir,
      sleep = _ => (), jitter = () => 0.0)
    assert(landed.size == 3 && errs.isEmpty)
    val table = graft.pipeline.FootprintPipeline.run(spark, dir, "cf_chain_test")
    assert(table.count() == 3)
    val years = graft.pipeline.FootprintPipeline
      .avgCarbonByYear(table, "Brazil").collect()
      .map(_.getAs[Int]("year")).toSeq
    assert(years == Seq(2000, 2001, 2002))
  }

  test("footprint pipeline end to end: json dir -> rename -> table -> probes") {
    val dir = tmpDir("gfn")
    write(dir, "data_all_2000.json",
      """[{"countryCode": 21, "countryName": "Brazil", "shortName": "BRA",
        |  "isoa2": "BR", "record": "EFConsPerCap", "cropLand": 0.6,
        |  "grazingLand": 0.2, "forestLand": 0.3, "fishingGround": 0.1,
        |  "builtupLand": 0.05, "carbon": 1.1, "value": 2.35, "score": "3A",
        |  "year": 2000},
        | {"countryCode": 30, "countryName": "Chile", "shortName": "CHL",
        |  "isoa2": "CL", "record": "EFConsPerCap", "cropLand": 0.5,
        |  "grazingLand": 0.3, "forestLand": 0.2, "fishingGround": 0.4,
        |  "builtupLand": 0.06, "carbon": 2.2, "value": 3.66, "score": "3A",
        |  "year": 2000}]""".stripMargin)
    write(dir, "data_all_2001.json",
      """[{"countryCode": 21, "countryName": "Brazil", "shortName": "BRA",
        |  "isoa2": "BR", "record": "EFConsPerCap", "cropLand": 0.7,
        |  "grazingLand": 0.2, "forestLand": 0.3, "fishingGround": 0.1,
        |  "builtupLand": 0.05, "carbon": 1.3, "value": 2.65, "score": "3A",
        |  "year": 2001}]""".stripMargin)
    val table = graft.pipeline.FootprintPipeline.run(spark, dir, "carbon_footprint_test")
    assert(table.schema == graft.pipeline.FootprintPipeline.CarbonFootprintSchema)
    assert(graft.pipeline.FootprintPipeline.rowCount(table) == 3)
    val brazil = graft.pipeline.FootprintPipeline
      .avgCarbonByYear(table, "Brazil").collect()
    assert(brazil.map(_.getAs[Int]("year")).toSeq == Seq(2000, 2001))
    assert(math.abs(brazil.head.getAs[Double]("avg_carbon") - 1.1) < 1e-12)
    // idempotent full refresh: run again, same state
    graft.pipeline.FootprintPipeline.run(spark, dir, "carbon_footprint_test")
    assert(spark.table("carbon_footprint_test").count() == 3)
  }

  test("ObjectStore: s3a settings land in hadoopConf; resolve joins URIs") {
    val hadoopBefore = spark.sparkContext.hadoopConfiguration.get("fs.s3a.endpoint")
    val confBefore = spark.conf.getAll
    val confs = ObjectStore.confs(ObjectStore.S3Settings(
      endpoint = Some("http://localhost:9000"), region = Some("us-east-1"),
      pathStyleAccess = true, maxConnections = 512), committers = true)
    assert(confs.toMap.size == confs.size, s"a key listed twice: $confs")
    assert(confs.forall(_._1.startsWith("spark.hadoop.")))
    assert(!ObjectStore.confs().toMap.contains("spark.hadoop.fs.s3a.committer.name"))
    // a context started with them (GraftSession.create) has their
    // fs.s3a.* settings in its Hadoop conf
    val hc = org.apache.spark.graftspec.HadoopConfs.atStart(confs)
    assert(hc.get("fs.s3a.endpoint") == "http://localhost:9000")
    assert(hc.get("fs.s3a.endpoint.region") == "us-east-1")
    assert(hc.get("fs.s3a.path.style.access") == "true")
    assert(hc.get("fs.s3a.connection.maximum") == "512")
    assert(hc.get("fs.s3a.threads.max") == "128")
    assert(hc.get("fs.s3a.committer.name") == "magic")
    // the spark-hadoop-cloud module that provides the commit protocol
    // ships with real Spark distributions but not this jar set: the
    // SQL committer keys must be left out (never hand Spark a committer
    // class it would reject at write time)
    assert(!confs.exists(_._1.startsWith("spark.sql.")))
    // the fs.s3a.* connector and committer settings never touch file:/
    // writes: a session copies its conf entries into the Hadoop conf of
    // every read and write it runs, so a child given the same keys as
    // that context reads and writes under the same Hadoop settings
    val c = GraftSession.child(spark,
      confs.map { case (k, v) => k.stripPrefix("spark.hadoop.") -> v }: _*)
    assert(c.sessionState.newHadoopConf().get("fs.s3a.committer.name") == "magic")
    val p = tmpDir("objstore-roundtrip")
    c.createDataFrame(Seq((1, "a"))).toDF("id", "s").write.mode("overwrite").parquet(p)
    assert(c.read.parquet(p).count() == 1)
    // the session the child came from is untouched
    assert(spark.sparkContext.hadoopConfiguration.get("fs.s3a.endpoint") == hadoopBefore)
    assert(spark.conf.getAll == confBefore)
    assert(ObjectStore.resolve("s3a://corpus/landing/", "/documents")
      == "s3a://corpus/landing/documents")
    assert(ObjectStore.resolve("file:/tmp/wh", "orders")
      == "file:/tmp/wh/orders")
  }
}
