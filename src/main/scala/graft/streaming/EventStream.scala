package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming surface: the batch operators of
  * `graft.ops.EventWindows` in streaming form — windowed aggregation
  * with watermarks, and stateful gap sessionization via
  * `mapGroupsWithState`.
  *
  * The reference is batch-only (SURVEY §2.8); this is the north-star
  * extension over the `events` table. Batch and streaming variants share
  * semantics: EventStreamSpec replays the parquet table through a stream
  * and checks the result against the batch plan.
  */
object EventStream {

  /** File stream over an events parquet path — a directory (normal
    * Spark output layout) or a single file. For a file, `basePath` must
    * be pinned to the parent directory: the parquet source otherwise
    * infers basePath = the file itself and rejects it.
    *
    * The stream schema is NOT pinned: the driver's testdata has shipped
    * `ts` as nanos-long, TIMESTAMP_NTZ, and TIMESTAMP across
    * generations, so we take the raw schema from the files themselves
    * (`Tables.parquetSchema`: a footer read, once per file version for
    * a single file) and apply the same canonical
    * normalization as `graft.etl.Tables` — downstream operators always
    * see a session-zoned TimestampType `ts`, which watermarks accept
    * (TIMESTAMP_NTZ event time is rejected by Structured Streaming). */
  def readEvents(spark: SparkSession, path: String): DataFrame = {
    // FileStreamSource force-overrides a user basePath with the stream
    // path itself UNLESS the path is a glob (FileStreamSource.scala,
    // optionsWithPartitionBasePath) — and a basePath that is a plain
    // file is rejected. So for a single-file input, rewrite the path as
    // an equivalent one-match glob (last char bracketed) and pin
    // basePath to the parent directory.
    val p = java.nio.file.Paths.get(path)
    val (streamPath, base) =
      if (java.nio.file.Files.isRegularFile(p)) {
        val name = p.getFileName.toString
        val glob = name.dropRight(1) + "[" + name.last + "]"
        (p.getParent.resolve(glob).toString, p.getParent.toString)
      } else (path, path)
    val rawSchema = graft.etl.Tables.parquetSchema(spark, path)
    graft.etl.Tables.normalizeEventTime(
      spark.readStream.schema(rawSchema).option("basePath", base)
        .parquet(streamPath))
  }

  /** Tumbling-window counts/sums with a watermark for state eviction:
    * at 100 TB-rate streams, unbounded window state is the failure mode —
    * the watermark bounds it to (window + lateness). */
  def windowedAgg(events: DataFrame, windowDur: String = "1 hour",
      watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowDur), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Streaming exact dedup: keep the first row per `idCols` key, with
    * state bounded by the watermark — duplicates are only detectable
    * within the watermark horizon, which is exactly the guarantee a
    * 100 TB/day ingest can afford (unbounded dedup state is the failure
    * mode; at-least-once upstream delivery produces duplicates CLOSE
    * together, so a horizon equal to the redelivery window is the
    * right contract). Input must carry `ts`; the watermark is applied
    * here. */
  def dedupStream(events: DataFrame, idCols: Seq[String],
      watermark: String = "30 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(idCols)

  /** Native session-window aggregation in STREAMING mode: Spark's
    * `session_window` grouping with a watermark — the built-in
    * counterpart to the hand-rolled [[sessionize]]/[[sessionizeClosed]]
    * state machines (which remain for semantics the built-in can't
    * express: custom roll conditions, per-trigger open-session
    * emission). Sessions close and emit exactly once, when the
    * watermark passes their gap horizon; state per key is the open
    * session — the same eviction contract as
    * [[sessionizeClosed]]. Output: user_id (or `keyCol`),
    * session_start, session_end, n_events, sum_value. */
  def sessionWindowAgg(events: DataFrame, gap: String,
      watermark: String = "0 seconds", keyCol: String = "user_id")
      : DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col(keyCol))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col(keyCol),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("sum_value"))

  /** Stream-static enrichment: join each micro-batch against a
    * BROADCAST dimension table — the streaming analog of the batch
    * calendar join (graft.ops.Calendar). Stateless (no watermark, no
    * join state: the static side is re-resolvable per batch), so it
    * adds zero streaming state at any rate; the static side must stay
    * broadcast-sized, which is exactly the dimension-table contract.
    * Left join: events with no dim row pass through with nulls
    * (enrichment must never drop facts). */
  def enrichWithDim(stream: DataFrame, dim: DataFrame,
      keys: Seq[String]): DataFrame =
    stream.join(broadcast(dim), keys, "left")

  /** Stream-stream inner join bounded to a time window: right rows
    * joining left rows of the same keys with
    * `leftTs <= rightTs <= leftTs + within`. BOTH the watermarks and
    * the join's time bound are required for Spark to evict join state —
    * an unbounded stream-stream join buffers both streams forever, the
    * 100 TB-stream failure mode. Column names (beyond `keys`) must be
    * disjoint. */
  def joinWithin(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTs: String, rightTs: String, within: String): DataFrame = {
    val l = left.withWatermark(leftTs, within)
    val r = right.withWatermark(rightTs, within)
    val cond = keys.map(k => l(k) === r(k)).reduce(_ && _) &&
      r(rightTs) >= l(leftTs) &&
      r(rightTs) <= l(leftTs) + expr(s"INTERVAL $within")
    keys.foldLeft(l.join(r, cond))((df, k) => df.drop(r(k)))
  }

  final case class Event(event_id: Long, user_id: Long, ts: Timestamp,
    value: Double)
  final case class SessionState(sessionId: Long, lastMicros: Long,
    start: Long, n: Long, sum: Double)
  final case class SessionUpdate(user_id: Long, session_id: Long,
    n_events: Long, sum_value: Double)

  /** Stateful gap sessionization (mapGroupsWithState, Update mode): one
    * state record per user carrying the open session; a gap larger than
    * `gapSeconds` rolls the session id. Emits the current open-session
    * aggregate each trigger. */
  def sessionize(events: Dataset[Event], gapSeconds: Long)
      : Dataset[SessionUpdate] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[SessionState, SessionUpdate](
        GroupStateTimeout.NoTimeout()) {
        (userId: Long, batch: Iterator[Event], state: GroupState[SessionState]) =>
          val sorted = batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var st = state.getOption.getOrElse(SessionState(0L, Long.MinValue, 0L, 0L, 0.0))
          sorted.foreach { e =>
            val micros = e.ts.getTime * 1000L
            if (st.sessionId == 0L || micros - st.lastMicros > gapSeconds * 1000000L)
              st = SessionState(st.sessionId + 1, micros, micros, 1L, e.value)
            else
              st = st.copy(lastMicros = micros, n = st.n + 1, sum = st.sum + e.value)
          }
          state.update(st)
          SessionUpdate(userId, st.sessionId, st.n, st.sum)
      }
  }

  final case class ClosedSession(user_id: Long, session_start: Timestamp,
    session_end: Timestamp, n_events: Long, sum_value: Double)

  /** Production-shape sessionization: flatMapGroupsWithState with
    * EVENT-TIME timeout — a session is emitted exactly once, when the
    * watermark passes its gap horizon (not on every trigger like the
    * Update-mode variant). Input must carry a watermark on `ts`.
    * State per key is one open session; timeout eviction bounds state
    * size — the failure mode that matters on unbounded streams. */
  def sessionizeClosed(events: Dataset[Event], gapSeconds: Long)
      : Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, ClosedSession](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, batch: Iterator[Event], state: GroupState[SessionState]) =>
          val gapMs = gapSeconds * 1000L
          if (state.hasTimedOut) {
            val st = state.get
            state.remove()
            Iterator(ClosedSession(userId,
              new Timestamp(st.start / 1000L), new Timestamp(st.lastMicros / 1000L),
              st.n, st.sum))
          } else {
            val sorted = batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            val closed = scala.collection.mutable.ArrayBuffer[ClosedSession]()
            var stOpt = state.getOption
            sorted.foreach { e =>
              val micros = e.ts.getTime * 1000L
              stOpt match {
                case Some(st) if micros - st.lastMicros <= gapSeconds * 1000000L =>
                  stOpt = Some(st.copy(lastMicros = micros, n = st.n + 1,
                    sum = st.sum + e.value))
                case Some(st) =>
                  closed += ClosedSession(userId,
                    new Timestamp(st.start / 1000L),
                    new Timestamp(st.lastMicros / 1000L), st.n, st.sum)
                  stOpt = Some(SessionState(st.sessionId + 1, micros, micros, 1L, e.value))
                case None =>
                  stOpt = Some(SessionState(1L, micros, micros, 1L, e.value))
              }
            }
            stOpt.foreach { st =>
              state.update(st)
              state.setTimeoutTimestamp(st.lastMicros / 1000L + gapMs)
            }
            closed.iterator
          }
      }
  }

  /** Run a streaming DataFrame to completion against a memory sink and
    * return the materialized result (test/smoke harness). */
  def runToMemory(df: DataFrame, name: String, mode: OutputMode): DataFrame = {
    val q = df.writeStream.outputMode(mode).format("memory")
      .queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    df.sparkSession.table(name)
  }

  /** Idempotent foreachBatch parquet landing — the exactly-once write
    * pattern for sinks without transactional support: each micro-batch
    * lands under `batch_id=<id>/`, and a batch id whose directory
    * already committed (its `_SUCCESS` marker exists) is SKIPPED, so
    * the epoch replayed after a crash-between-commit-and-checkpoint
    * does not double-write. Readers see `spark.read.parquet(root)`
    * with `batch_id` as a partition column; the check is one
    * driver-side metadata probe per epoch. */
  def idempotentParquetSink(df: DataFrame, root: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream.outputMode(OutputMode.Append).foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          batchId: Long) => { landBatch(batch.toDF(), batchId, root); () }
    }

  /** The per-epoch commit of [[idempotentParquetSink]]: write iff this
    * batch id has not already committed. Returns whether it wrote. */
  def landBatch(batch: DataFrame, batchId: Long, root: String): Boolean = {
    val dir = s"$root/batch_id=$batchId"
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
      graft.GraftSession.hadoopConf(batch.sparkSession))
    val committed = fs.exists(new org.apache.hadoop.fs.Path(dir, "_SUCCESS"))
    if (!committed) graft.GraftSession.write(batch).mode("overwrite").parquet(dir)
    !committed
  }
}
