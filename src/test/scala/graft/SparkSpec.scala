package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session; suites run
  * in one forked JVM under `Test / fork := true`). Built by
  * [[GraftSession]], so specs run the engine Bench times. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sqlc = spark
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.create("local[4]",
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft-wh").toString,
    "spark.sql.streaming.checkpointLocation" ->
      java.nio.file.Files.createTempDirectory("graft-ckpt").toString)
}
