package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev probe (r16 brief item 3): decompose what ONE streaming-query
  * start actually pays — query-thread launch + first-batch planning,
  * micro-batch execution, offset/commit-log IO, state-store
  * open/commit, sink commit log, stop — and A/B the candidate knobs
  * (checkpoint file manager, state partition count, no-data batch)
  * on a session-window aggregation over a small staged input, so the
  * per-start floor is measured, not guessed. */
object ProfileStreamStart {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftExtensions.register(spark)
    def time(label: String)(f: => Unit): Double = {
      val t0 = System.nanoTime(); f
      val s = (System.nanoTime() - t0) / 1e9
      println(f"[pss] $label%-44s $s%7.3f s")
      s
    }
    val eventsParquet = s"$sfDir/events.parquet"

    // stage a small input once (500 rows) — the start cost under test
    // is per-QUERY, not per-row
    val stage = graft.etl.Scratch.pinnedDir("pss-stage")
    graft.etl.Tables.parquetFile(spark, eventsParquet)
      .limit(500).coalesce(1).write.mode("overwrite").parquet(stage)

    def runOnce(s: SparkSession, ckpt: String,
        sink: String): (Double, Double, Double) = {
      val df = graft.streaming.EventStream.sessionWindowAgg(
        graft.streaming.EventStream.readEvents(s, stage), "30 minutes")
      var q: org.apache.spark.sql.streaming.StreamingQuery = null
      val tStart = { val t0 = System.nanoTime()
        q = df.writeStream.outputMode("append").format("parquet")
          .option("path", sink).option("checkpointLocation", ckpt).start()
        (System.nanoTime() - t0) / 1e9 }
      val tProc = { val t0 = System.nanoTime()
        q.processAllAvailable(); (System.nanoTime() - t0) / 1e9 }
      val tStop = { val t0 = System.nanoTime()
        q.stop(); (System.nanoTime() - t0) / 1e9 }
      (tStart, tProc, tStop)
    }

    def profile(label: String)(mk: () => SparkSession): Unit = {
      // warm once, then 4 measured runs
      val s = mk()
      (0 until 5).foreach { i =>
        val ckpt = graft.etl.Scratch.dir("pss-ckpt")
        val sink = graft.etl.Scratch.dir("pss-sink")
        val (a, b, c) = runOnce(s, ckpt, sink)
        if (i > 0) println(f"[pss] $label%-36s run$i start=$a%6.3f proc=$b%6.3f stop=$c%6.3f total=${a + b + c}%6.3f")
        // resume over the unchanged source from the same checkpoint
        val (a2, b2, c2) = runOnce(s, ckpt, sink)
        if (i > 0) println(f"[pss] $label%-36s      resume start=$a2%6.3f proc=$b2%6.3f stop=$c2%6.3f total=${a2 + b2 + c2}%6.3f")
      }
      graft.etl.Scratch.sweep()
    }

    profile("A base (parts=4)") { () =>
      val s = spark.newSession()
      s.conf.set("spark.sql.shuffle.partitions", "4")
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      s
    }
    profile("B parts=1") { () =>
      val s = spark.newSession()
      s.conf.set("spark.sql.shuffle.partitions", "1")
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      s
    }
    profile("C fs-ckpt-manager") { () =>
      val s = spark.newSession()
      s.conf.set("spark.sql.shuffle.partitions", "4")
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      s.conf.set("spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")
      s
    }
    profile("D noDataBatches=false") { () =>
      val s = spark.newSession()
      s.conf.set("spark.sql.shuffle.partitions", "4")
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
      s
    }
    profile("E asyncProgress") { () =>
      val s = spark.newSession()
      s.conf.set("spark.sql.shuffle.partitions", "4")
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      s.conf.set("spark.sql.streaming.asyncProgressTrackingEnabled", "true")
      s
    }

    // the real gates for scale reference
    graft.streaming.WarmRuns.enabled = false
    (1 to 3).foreach { i =>
      time(s"FULL q154 cold #$i") {
        graft.streaming.StreamAsBatch.sessionWindowsRestarted(
          spark, eventsParquet, "30 minutes").count()
      }
      graft.etl.Checkpoints.sweep(spark); graft.etl.Scratch.sweep()
    }
    (1 to 3).foreach { i =>
      time(s"FULL q147 cold #$i") {
        graft.streaming.StreamAsBatch.dedupedEvents(spark, eventsParquet)
          .count()
      }
      graft.etl.Checkpoints.sweep(spark); graft.etl.Scratch.sweep()
    }
    spark.stop()
  }
}
