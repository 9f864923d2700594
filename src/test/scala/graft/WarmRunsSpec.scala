package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row

import graft.etl.Scratch
import graft.streaming.WarmRuns

/** The warm/cold contract of the bounded-stream gates, one gate per run
  * shape: complete-mode overwrite (q30), append file sink (q147),
  * kill-and-resume file sink (q153), foreachBatch maintenance (q180) and
  * corpus ingest (q167). A cold run registers its dirs in [[WarmRuns]]
  * once; an identical second call resumes from them and returns the same
  * rows. With warm reuse off every call is cold and leaves only
  * sweepable scratch. */
class WarmRunsSpec extends SparkSpec {

  // a fresh copy of the sf0.001 inputs: warm runs are keyed by input
  // path, so no earlier suite in this JVM has registered these keys
  private lazy val dir: String = {
    val d = Files.createTempDirectory("warmruns")
    for (t <- Seq("events", "documents"))
      Files.copy(Paths.get(s"/root/testdata/sf0.001/$t.parquet"),
        d.resolve(s"$t.parquet"))
    d.toString
  }

  /** Rows of one gate call and the [[WarmRuns.put]] calls it made. */
  private def run(gate: String): (Seq[Row], Long) = {
    val p0 = WarmRuns.putAttempts
    val rows = SparkEntry.queries(gate)(spark, dir).collect().toSeq
    (rows, WarmRuns.putAttempts - p0)
  }

  private def withWarmRuns[T](on: Boolean)(body: => T): T = {
    val was = WarmRuns.enabled
    WarmRuns.enabled = on
    try body finally WarmRuns.enabled = was
  }

  for (gate <- Seq("q30_stream_window", "q147_stream_dedup",
      "q153_stream_dedup_restart", "q180_stream_maintained_agg",
      "q167_ingest_restart"))
    test(s"$gate: a cold run registers once; an identical call resumes warm") {
      withWarmRuns(on = true) {
        val (cold, coldPuts) = run(gate)
        val (warm, warmPuts) = run(gate)
        assert(coldPuts == 1L)
        assert(warmPuts == 0L)
        assert(cold.nonEmpty)
        assert(warm == cold)
      }
    }

  test("with warm reuse off every call is cold and Scratch.sweep removes its dirs") {
    withWarmRuns(on = false) {
      for (_ <- 1 to 2) {
        val p0 = WarmRuns.putAttempts
        val out = SparkEntry.queries("q147_stream_dedup")(spark, dir)
        assert(out.collect().nonEmpty)
        assert(WarmRuns.putAttempts - p0 == 1L)
        // the sink's files name the sink dir; its parent is the scratch
        // root, which also holds the run's checkpoint dir
        val sink = Paths.get(new java.net.URI(out.inputFiles.head)).getParent
        def runDirs = Files.list(sink.getParent).iterator().asScala
          .map(_.getFileName.toString).filter(_.startsWith("dedup-")).toSeq
        assert(runDirs.exists(_.startsWith("dedup-ckpt")), runDirs)
        assert(runDirs.exists(_.startsWith("dedup-sink")), runDirs)
        Scratch.sweep()
        assert(!Files.exists(sink))
        assert(runDirs.isEmpty, runDirs)
      }
    }
  }
}
