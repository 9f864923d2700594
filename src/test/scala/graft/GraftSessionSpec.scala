package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** The engine session every main and spec runs on: Bench's confs, graft's
  * rules, strategy and SQL functions, and one builder in the code base. */
class GraftSessionSpec extends SparkSpec {

  test("the shared test session carries Bench's engine confs") {
    val want = Map(
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold" -> "128m",
      "spark.sql.codegen.cache.maxEntries" -> "10000",
      "spark.ui.enabled" -> "false")
    val got = want.keys.map(k => k -> spark.conf.get(k)).toMap
    assert(got == want)
    assert(spark.sparkContext.master == "local[4]")
  }

  test("graft's rules, strategy and SQL functions are registered") {
    val exp = spark.experimental
    assert(exp.extraOptimizations.contains(graft.rules.BucketedRangeJoin))
    assert(exp.extraOptimizations.contains(graft.etl.MvRewrite))
    assert(exp.extraStrategies.contains(graft.plans.AsOfJoinStrategy))
    assert(spark.sql("SELECT jaro_winkler('a', 'a')").head().getDouble(0) == 1.0)
  }

  test("shuffle partitions follow the master's cores") {
    assert(GraftSession.partitions("local[4]") == 4)
    assert(GraftSession.partitions("local-cluster[2,4,2048]") == 8)
  }

  test("GraftSession.scala is the only session builder in src/main") {
    // split so this spec is not itself a match for a grep over src/
    val needle = "SparkSession." + "builder"
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    val builders = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => Files.readString(p).contains(needle))
      .map((p: Path) => root.relativize(p).toString).toSeq.sorted
    assert(builders == Seq("graft/GraftSession.scala"))
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
