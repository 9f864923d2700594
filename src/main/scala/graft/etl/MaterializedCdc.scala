package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained CDC state table — the replication-sink
  * materialization of [[graft.ops.Scd.applyChangelog]]: the state at
  * `path` holds each key's LATEST change event (tombstones INCLUDED —
  * a delete must persist in state so it keeps suppressing the key and
  * keeps winning merges against older batched events), and absorbing a
  * delta is `latest(state ∪ latest(delta))` — "latest per key" is
  * associative and commutative, so the incremental state equals the
  * one-shot apply over the full log regardless of batch boundaries.
  *
  * Same 100 TB posture as [[MaterializedAgg]]: state hash-bucketed on
  * key and written `partitionBy(__bucket)`; a refresh pre-reduces the
  * delta (one row per touched key crosses the shuffle), reads only the
  * touched buckets, and rewrites only those partitions via dynamic
  * partition overwrite. */
object MaterializedCdc {

  private def carried(orderCols: Seq[String], opCol: String,
      payloadCols: Seq[String]) =
    struct((orderCols.map(col) :+ col(opCol)) ++ payloadCols.map(col): _*)

  /** One row per (key, bucket): the latest event's fields, flat. */
  private def latest(log: DataFrame, keyCol: String, orderCols: Seq[String],
      opCol: String, payloadCols: Seq[String], nBuckets: Int): DataFrame = {
    val fields = (orderCols :+ opCol) ++ payloadCols
    log.groupBy(col(keyCol),
        pmod(xxhash64(col(keyCol)), lit(nBuckets.toLong)).as("__bucket"))
      .agg(max_by(carried(orderCols, opCol, payloadCols),
        struct(orderCols.map(col): _*)).as("__last"))
      .select(col(keyCol) +: col("__bucket") +:
        fields.map(f => col(s"__last.$f").as(f)): _*)
  }

  /** Initialize the state from a first log slice. */
  def create(log: DataFrame, keyCol: String, orderCols: Seq[String],
      opCol: String, payloadCols: Seq[String], path: String,
      nBuckets: Int = 64): Unit =
    writeCreated(latest(log, keyCol, orderCols, opCol, payloadCols, nBuckets), path)

  /** [[create]] split for compositions: the first-slice state as a
    * CHECKPOINTED frame, so the caller can overlap [[writeCreated]]
    * with a downstream consumer of the same rows (e.g.
    * [[MaterializedJoin.createFromCdc]] taking [[live]] of this frame
    * instead of re-reading the landed parquet). Caller frees. */
  def createForCompose(log: DataFrame, keyCol: String,
      orderCols: Seq[String], opCol: String, payloadCols: Seq[String],
      nBuckets: Int = 64): DataFrame =
    Checkpoints.truncate(
      latest(log, keyCol, orderCols, opCol, payloadCols, nBuckets))

  /** Land a [[createForCompose]] frame as the initial state. */
  def writeCreated(state: DataFrame, path: String): Unit =
    MaterializedAgg.writePartitioned(state, "__bucket", path)

  /** The live (tombstone-suppressed) view of an in-memory state
    * frame — what [[read]] computes from disk. */
  def live(state: DataFrame, opCol: String, deleteOp: String): DataFrame =
    state.where(col(opCol) =!= deleteOp).drop("__bucket")

  /** The upsert emission of a [[mergeForCompose]] frame: each touched
    * key's post-merge latest row, tombstones included. */
  def emission(merged: DataFrame): DataFrame =
    merged.where(col("__touched")).drop("__touched")

  /** The shared merge of [[refresh]]/[[refreshEmit]]/[[mergeEmit]]:
    * the post-merge state of every bucket the delta touched, as ONE
    * checkpointed frame, plus the touched-bucket ids. Two jobs total
    * (these run inside streaming foreachBatch bodies, where every
    * extra Spark job is pure serialized latency):
    *  1. the touched-bucket probe aggregates the RAW delta's bucket
    *     ids directly — no separate delta-latest materialization; the
    *     delta is scanned once more inside the merge, and two delta
    *     scans beat a third serialized job at every scale (the delta
    *     is the SMALL side by contract);
    *  2. the merge itself: `latest(state_touched ∪ latest(delta))`,
    *     checkpointed BEFORE any write because the dynamic overwrite
    *     replaces the very partitions the merge read. Each merged row
    *     carries a transient `__touched` flag — true iff the delta
    *     contributed an event for that key — computed INSIDE the
    *     merge aggregation, so the emission is a zero-job projection
    *     over the same checkpoint. The flag never reaches disk
    *     ([[writeMerged]] drops it). */
  private def mergeTouched(spark: SparkSession, path: String,
      delta: DataFrame, keyCol: String, orderCols: Seq[String],
      opCol: String, payloadCols: Seq[String],
      nBuckets: Int): (DataFrame, Array[Long]) = {
    val touched = delta
      .select(pmod(xxhash64(col(keyCol)), lit(nBuckets.toLong))
        .as("__bucket"))
      .distinct().collect().map(_.getLong(0)) // bounded: ≤ nBuckets
    val state = spark.read.parquet(path)
      .where(col("__bucket").isin(touched: _*))
    val merged = Checkpoints.truncate(
      state.withColumn("__touched", lit(false))
        .unionByName(
          latest(delta, keyCol, orderCols, opCol, payloadCols, nBuckets)
            .withColumn("__touched", lit(true)))
        .groupBy(col(keyCol), col("__bucket"))
        .agg(max_by(carried(orderCols, opCol, payloadCols),
          struct(orderCols.map(col): _*)).as("__last"),
          max(col("__touched")).as("__touched"))
        .select(col(keyCol) +: col("__bucket") +:
          (((orderCols :+ opCol) ++ payloadCols)
            .map(f => col(s"__last.$f").as(f)) :+ col("__touched")): _*))
    (merged, touched)
  }

  /** Land a [[mergeTouched]] result as the new state of its touched
    * buckets (dynamic partition overwrite — untouched buckets never
    * opened). Exposed separately so a composition can OVERLAP this
    * write with downstream consumption of the same checkpointed
    * frame ([[MaterializedJoin.applyUpserts]] — see
    * [[graft.streaming.StreamAsBatch.cdcJoinRestarted]]). */
  def writeMerged(merged: DataFrame, path: String): Unit =
    MaterializedAgg.replacePartitions(merged.drop("__touched"), "__bucket", path)

  /** Absorb a delta log slice: cost bounded by the delta plus the
    * state buckets it touches; the full key space is never read. */
  def refresh(spark: SparkSession, path: String, delta: DataFrame,
      keyCol: String, orderCols: Seq[String], opCol: String,
      payloadCols: Seq[String], nBuckets: Int = 64): Unit = {
    val (merged, _) = mergeTouched(spark, path, delta, keyCol,
      orderCols, opCol, payloadCols, nBuckets)
    writeMerged(merged, path)
    Checkpoints.free(merged)
  }

  /** [[refresh]] that also EMITS the post-merge LATEST row of every
    * key the delta touched (tombstones included) — the upsert stream
    * a downstream consumer applies as expire+insert pairs
    * ([[MaterializedJoin.applyUpserts]]: the CDC→join composition
    * that gives the maintained join update/delete semantics). The
    * emission is computed from the same merged frame the state write
    * lands, so it cannot diverge from state; it is a projection over
    * the merge's own checkpoint (the `__touched` flag the merge
    * aggregation computed), already materialized BEFORE this returns,
    * so a replayed caller re-derives identical emissions from the
    * already-merged (idempotent) state. Caller frees the returned
    * frame when done (freeing it releases the merge checkpoint the
    * projection reads). */
  def refreshEmit(spark: SparkSession, path: String, delta: DataFrame,
      keyCol: String, orderCols: Seq[String], opCol: String,
      payloadCols: Seq[String], nBuckets: Int = 64): DataFrame =
    mergeEmit(spark, path, delta, keyCol, orderCols, opCol,
      payloadCols, nBuckets)._1

  /** The composition-facing form of [[refreshEmit]]: ALSO returns the
    * touched-bucket ids (computed against THIS state's `nBuckets` and
    * `keyCol`), so a downstream apply that shares the same bucketing
    * contract can skip re-deriving them, and DEFERS nothing — the
    * state write has already landed when this returns. The returned
    * emission frame is a projection over the merge checkpoint; free
    * it when done. */
  def mergeEmit(spark: SparkSession, path: String, delta: DataFrame,
      keyCol: String, orderCols: Seq[String], opCol: String,
      payloadCols: Seq[String], nBuckets: Int = 64)
      : (DataFrame, Array[Long]) = {
    val (merged, touched) = mergeTouched(spark, path, delta, keyCol,
      orderCols, opCol, payloadCols, nBuckets)
    writeMerged(merged, path)
    (merged.where(col("__touched")).drop("__touched"), touched)
  }

  /** [[mergeTouched]] exposed for compositions that want to OVERLAP
    * the state write with downstream work: returns the checkpointed
    * merged frame (with its transient `__touched` flag) and the
    * touched buckets; the caller MUST [[writeMerged]] it (directly or
    * inside a [[Par]] overlap) and free the frame when done. */
  def mergeForCompose(spark: SparkSession, path: String,
      delta: DataFrame, keyCol: String, orderCols: Seq[String],
      opCol: String, payloadCols: Seq[String], nBuckets: Int = 64)
      : (DataFrame, Array[Long]) =
    mergeTouched(spark, path, delta, keyCol, orderCols, opCol,
      payloadCols, nBuckets)

  /** The live table: tombstoned keys suppressed, bucket dropped. */
  def read(spark: SparkSession, path: String, opCol: String,
      deleteOp: String): DataFrame =
    spark.read.parquet(path)
      .where(col(opCol) =!= deleteOp)
      .drop("__bucket")
}
