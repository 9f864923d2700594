package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

/** The one harness every bounded-stream gate runs through: a streaming
  * query run to completion over a bounded input, in arrival waves, with
  * a stop and a resume from the same checkpoint between waves.
  *
  * A cold run builds one tuned child session, creates the caller's
  * retained dirs ([[graft.etl.Scratch.retainedDir]]), and for each wave
  * stages it, starts the caller's query, drains it and stops it; it then
  * registers the run in [[WarmRuns]] once. A later identical call in the
  * same JVM resumes instead: the query runs once more over the unchanged
  * dirs, finds nothing new and stops (see [[WarmRuns]] for what that
  * measures and when the bench turns it off). */
private[streaming] object BoundedStream {

  /** A completed run: its tuned child session and its retained dirs, in
    * the order the caller named them. */
  case class Run(s: SparkSession, dirs: Seq[String])

  /** Run the query `start` builds to completion once per wave, or once
    * more on a warm hit, and hand back the run.
    *
    * @param warmKey the gate, its input path and its parameters
    * @param dirNames the prefixes of the run's retained dirs
    * @param partitions the child session's shuffle (and so state)
    *   partitions. A child session ([[graft.GraftSession.child]]) keeps
    *   this override from leaking into a query planned concurrently on
    *   the caller's session, and reuses the classes earlier runs compiled.
    *   Few partitions, because state-store open/commit cost is
    *   per-partition per-batch and the result is partition-count
    *   independent; a real long-lived stream at scale would size the
    *   state-partition count to the key cardinality.
    * @param noDataBatches gates whose OUTPUT does not depend on the
    *   watermark closing anything (dedup emits on arrival, inner join on
    *   match) skip the trailing no-data micro-batch - one state-commit
    *   cycle less per run; session gates keep it (their final sessions
    *   close on the watermark advance)
    * @param waves each stages one arrival into the run's dirs before the
    *   query starts; the default is one wave that stages nothing (the
    *   query reads its source directly) */
  def run(spark: SparkSession, warmKey: String, dirNames: Seq[String],
      partitions: Int = 4, noDataBatches: Boolean = true,
      waves: Seq[Run => Unit] = Seq(_ => ()))(
      start: Run => StreamingQuery): Run = {
    def drain(r: Run): Unit = {
      val q = start(r)
      try q.processAllAvailable() finally q.stop()
    }
    WarmRuns.get(warmKey) match {
      case Some(warm) =>
        drain(warm)
        warm
      case None =>
        // the checkpoint file manager is one of GraftSession.StorageConfs,
        // which every child carries
        val s = graft.GraftSession.child(spark,
          "spark.sql.shuffle.partitions" -> partitions.toString,
          "spark.sql.streaming.noDataMicroBatches.enabled" ->
            noDataBatches.toString)
        val r = Run(s, dirNames.map(graft.etl.Scratch.retainedDir))
        waves.foreach { stage =>
          stage(r)
          drain(r)
        }
        WarmRuns.put(warmKey, r)
        r
    }
  }
}
