package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics

import graft.streaming.WarmRuns

/** The engine session every main and spec runs on: Bench's confs, graft's
  * rules, strategy and SQL functions, one builder in the code base, and
  * one way to open a child session. */
class GraftSessionSpec extends SparkSpec {

  test("the shared test session carries Bench's engine confs") {
    val want = Map(
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold" -> "128m",
      "spark.sql.codegen.cache.maxEntries" -> "10000",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.legacy.bucketedTableScan.outputOrdering" -> "true",
      "spark.ui.enabled" -> "false",
      // GraftSession.StorageConfs: the Hadoop keys ride in as spark.hadoop.*
      "spark.hadoop.fs.file.impl" -> "graft.etl.LocalFs",
      "spark.hadoop.fs.file.impl.disable.cache" -> "true",
      "spark.sql.streaming.checkpointFileManagerClass" ->
        "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")
    val got = want.keys.map(k => k -> spark.conf.get(k)).toMap
    assert(got == want)
    assert(spark.sparkContext.master == "local[4]")
  }

  private def assertEngineSession(s: org.apache.spark.sql.SparkSession) = {
    val exp = s.experimental
    assert(exp.extraOptimizations.contains(graft.rules.BucketedRangeJoin))
    assert(exp.extraOptimizations.contains(graft.etl.MvRewrite))
    assert(exp.extraStrategies.contains(graft.plans.AsOfJoinStrategy))
    assert(s.sql("SELECT jaro_winkler('a', 'a')").head().getDouble(0) == 1.0)
  }

  test("graft's rules, strategy and SQL functions are registered") {
    assertEngineSession(spark)
  }

  test("a child session is an engine session") {
    val c = GraftSession.child(spark)
    assertEngineSession(c)
    // the engine confs create fixed reach the child through the SparkConf
    for (k <- Seq("spark.sql.legacy.parquet.nanosAsLong",
        "spark.sql.legacy.bucketedTableScan.outputOrdering"))
      assert(c.conf.get(k) == "true", k)
  }

  private def fileFs(c: org.apache.hadoop.conf.Configuration) =
    new org.apache.hadoop.fs.Path("file:///").getFileSystem(c)

  test("file:// is graft's LocalFs on every engine session and in hadoopConf") {
    assert(fileFs(spark.sessionState.newHadoopConf()).isInstanceOf[graft.etl.LocalFs])
    assert(fileFs(spark.sparkContext.hadoopConfiguration).isInstanceOf[graft.etl.LocalFs])
    val c = GraftSession.child(spark)
    assert(fileFs(c.sessionState.newHadoopConf()).isInstanceOf[graft.etl.LocalFs])
    // a session whose context lacks the storage keys (one graft did not
    // build): a child still gets LocalFs, and so does graft's own I/O
    val hc = spark.sparkContext.hadoopConfiguration
    val keys = GraftSession.StorageConfs.map(_._1).filter(k => hc.get(k) != null)
    val saved = keys.map(k => k -> hc.get(k))
    try {
      keys.foreach(hc.unset)
      val bare = spark.newSession()
      assert(!fileFs(bare.sessionState.newHadoopConf()).isInstanceOf[graft.etl.LocalFs])
      assert(fileFs(GraftSession.child(bare).sessionState.newHadoopConf())
        .isInstanceOf[graft.etl.LocalFs])
      assert(fileFs(GraftSession.hadoopConf(bare)).isInstanceOf[graft.etl.LocalFs])
    } finally saved.foreach { case (k, v) => hc.set(k, v) }
  }

  test("src/main takes its Hadoop conf from GraftSession.hadoopConf") {
    // split so this spec is not itself a match for a grep over src/
    val needle = "hadoop" + "Configuration"
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    val hits = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filterNot(p => root.relativize(p).toString == "graft/GraftSession.scala")
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if line.contains(needle) &&
              !Seq("*", "/*", "//").exists(line.trim.startsWith) =>
            s"${root.relativize(p)}:${i + 1}: ${line.trim}"
        }
      }.toSeq.sorted
    assert(hits.isEmpty)
  }

  test("src/main writes through GraftSession.write") {
    // a member `.write` not called with arguments (java.nio's
    // `Files.write(...)` is), also across a line break; `.writeStream` is
    // not a match. Split so this spec is not itself a match for a grep.
    val write = ("""\.\s*""" + "write" + """\b(?!\s*\()""").r
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    val hits = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filterNot(p => root.relativize(p).toString == "graft/GraftSession.scala")
      .flatMap { p =>
        val code = Files.readAllLines(p).asScala.map { line =>
          if (Seq("*", "/*", "//").exists(line.trim.startsWith)) "" else line
        }.mkString("\n")
        write.findAllMatchIn(code).map { m =>
          val line = code.take(m.start).count(_ == '\n') + 1
          s"${root.relativize(p)}:$line"
        }
      }.toSeq.sorted
    assert(hits.isEmpty)
  }

  test("shuffle partitions follow the master's cores") {
    assert(GraftSession.partitions("local[4]") == 4)
    assert(GraftSession.partitions("local-cluster[2,4,2048]") == 8)
  }

  // needles split so this spec is not itself a match for a grep over src/
  for ((what, needle) <- Seq(
      "the only session builder in src/main" -> ("SparkSession." + "builder"),
      "the only place src/main opens a child session" -> ("newSession" + "()")))
    test(s"GraftSession.scala is $what") {
      val root = Paths.get("src/main/scala")
      assert(Files.isDirectory(root), s"run from the repo root: $root")
      val hits = Files.walk(root).iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .filter(p => Files.readString(p).contains(needle))
        .map((p: Path) => root.relativize(p).toString).toSeq.sorted
      assert(hits == Seq("graft/GraftSession.scala"))
    }

  test("GraftSession.scala alone sets session state in src/main") {
    // needles split so this spec is not itself a match for a grep over src/
    val needles = Seq(".conf." + "set(", ".conf." + "unset(",
      "experimental." + "extra")
    val hadoopConf = "hadoop" + "Configuration"
    val write = """\.(set\w*|unset|addResource)\("""
    val directWrite = (hadoopConf + "\\s*" + write).r
    val alias = ("""\bval\s+(\w+)\s*=.*\b""" + hadoopConf + """\s*$""").r.unanchored
    val owners = Set("graft/GraftSession.scala", "graft/GraftExtensions.scala")
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    val hits = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filterNot(p => owners(root.relativize(p).toString))
      .flatMap { p =>
        val code = Files.readAllLines(p).asScala.zipWithIndex.filterNot {
          case (line, _) => Seq("*", "/*", "//").exists(line.trim.startsWith)
        }
        val aliasWrite = code.collect { case (alias(name), _) => name }
          .map(n => ("\\b" + n + write).r)
        code.collect {
          case (line, i) if needles.exists(line.contains) ||
              (directWrite +: aliasWrite).exists(_.findFirstIn(line).isDefined) =>
            s"${root.relativize(p)}:${i + 1}: ${line.trim}"
        }
      }.toSeq.sorted
    assert(hits.isEmpty)
  }

  test("GraftSession.child sets its confs on the child only") {
    val key = "spark.graft.spec.childOnly"
    val before = spark.conf.getAll
    val c = GraftSession.child(spark, key -> "on")
    assert(c.conf.get(key) == "on")
    assert(c.conf.get("spark.sql.artifact.isolation.enabled") == "false")
    assert(spark.conf.getAll == before)
  }

  test("a gate that runs on its own child plans under its caller's settings") {
    // q34 reads its sources into views on a child of the session it is
    // handed; that child starts from the caller's settings, whether Spark
    // knows the key or not
    val key = "spark.graft.spec.inherited"
    val caller = GraftSession.child(spark,
      "spark.sql.adaptive.enabled" -> "false", key -> "on")
    def q34(s: org.apache.spark.sql.SparkSession) =
      SparkEntry.queries("q34_correlated")(s, "/root/testdata/sf0.001")
    val adaptive = classOf[org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec]
    assert(adaptive.isInstance(q34(spark).queryExecution.executedPlan))
    val df = q34(caller)
    assert(df.sparkSession ne caller)
    assert(df.sparkSession.conf.get(key) == "on")
    assert(!adaptive.isInstance(df.queryExecution.executedPlan))
  }

  test("a child session's rerun compiles no generated class again") {
    // q08 runs in a child session, the two streams in a child and its
    // per-query clones; warm reuse off makes the second run cold too
    def compiles(gate: String): Long = {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      SparkEntry.queries(gate)(spark, "/root/testdata/sf0.001")
        .write.format("noop").mode("overwrite").save()
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    }
    val was = WarmRuns.enabled
    WarmRuns.enabled = false
    val again = try {
      Seq("q08_agg_join_back", "q30_stream_window", "q147_stream_dedup")
        .map { gate => compiles(gate); gate -> compiles(gate) }
    } finally WarmRuns.enabled = was
    assert(again.forall(_._2 == 0L), s"classes compiled again: $again")
  }

  test("src/main reads no hidden JVM property") {
    // split so this spec is not itself a match for a grep over src/
    val propsRead = ("sys." + "props").r
    val graftProperty = ("System\\.get" + "Property\\(\\s*\"graft\\.").r
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    val reads = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if propsRead.findFirstIn(line).isDefined ||
              graftProperty.findFirstIn(line).isDefined =>
            s"${root.relativize(p)}:${i + 1}: ${line.trim}"
        }
      }.toSeq.sorted
    assert(reads.isEmpty)
  }
}
