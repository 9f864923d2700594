package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession

/** Incrementally-maintained grouped aggregate — materialized-view
  * maintenance for the self-maintainable aggregates (count / sum /
  * min / max; avg derived at read) in the sense of Mumick, Quass &
  * Mumick, "Maintenance of Data Cubes and Summary Tables in a
  * Warehouse" (SIGMOD 1997): the state table stores MERGEABLE
  * partials per key, so absorbing a delta never rescans the base —
  * `merge(state, partials(delta))` replaces `aggregate(base ∪ delta)`.
  *
  * Scale posture (100 TB): the state is hash-bucketed on the grouping
  * key (`__bucket = pmod(xxhash64(keys), nBuckets)`) and written
  * partitioned by bucket, so a refresh (a) pre-aggregates the delta —
  * the shuffle carries one partial row per touched key, not the delta's
  * rows; (b) reads ONLY the state partitions whose buckets the delta
  * touches (partition pruning on the bucket predicate — a daily delta
  * touching 1% of keys reads ~1% of a 10⁹-key state); and (c) rewrites
  * only those partitions via dynamic partition overwrite. The merged
  * frame is materialized ([[Checkpoints.truncate]]) before the write
  * because it reads the same files it replaces.
  *
  * The reference's warehouse refresh (S8) is a full TRUNCATE+INSERT
  * (`local_data_ingestion.py:116-130`); this is the incremental form a
  * 100 TB fact table needs instead. */
object MaterializedAgg {

  /** `df` as the whole table at `path`, partitioned by `partCol`. */
  private[etl] def writePartitioned(df: DataFrame, partCol: String,
      path: String): Unit =
    GraftSession.write(df).mode("overwrite").partitionBy(partCol).parquet(path)

  /** `df` into the `partCol`-partitioned table at `path`, replacing only
    * the partitions `df` has rows in (dynamic partition overwrite). */
  private[etl] def replacePartitions(df: DataFrame, partCol: String,
      path: String): Unit =
    GraftSession.write(df).mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCol).parquet(path)

  /** Mergeable partials of `valueCol` per `keys`: `__bucket`, `__cnt`,
    * `__sum`, `__min`, `__max`. One partial-agg shuffle; rows with a
    * NULL value count toward no partial (SQL aggregate semantics). */
  def partials(df: DataFrame, keys: Seq[String], valueCol: String,
      nBuckets: Int): DataFrame =
    df.groupBy(keys.map(col) :+
        pmod(xxhash64(keys.map(col): _*), lit(nBuckets.toLong))
          .as("__bucket"): _*)
      .agg(count(col(valueCol)).as("__cnt"),
        sum(col(valueCol)).as("__sum"),
        min(col(valueCol)).as("__min"),
        max(col(valueCol)).as("__max"))

  /** Merge two partial frames with identical shape: one hash
    * aggregation on (keys, bucket). */
  private def merge(a: DataFrame, b: DataFrame, keys: Seq[String]): DataFrame =
    a.unionByName(b)
      .groupBy((keys :+ "__bucket").map(col): _*)
      .agg(sum(col("__cnt")).as("__cnt"), sum(col("__sum")).as("__sum"),
        min(col("__min")).as("__min"), max(col("__max")).as("__max"))

  /** Initialize the state table at `path` from a base frame. */
  def create(df: DataFrame, keys: Seq[String], valueCol: String,
      path: String, nBuckets: Int = 64): Unit =
    writePartitioned(partials(df, keys, valueCol, nBuckets), "__bucket", path)

  /** Absorb `delta` into the state at `path`. Cost is bounded by the
    * delta plus the state buckets it touches — the base is never read.
    * `nBuckets` must match the value the state was created with. */
  def refresh(spark: SparkSession, path: String, delta: DataFrame,
      keys: Seq[String], valueCol: String, nBuckets: Int = 64): Unit = {
    val deltaP = Checkpoints.truncate(
      partials(delta, keys, valueCol, nBuckets))
    // bounded by construction: at most nBuckets values
    val touched = deltaP.select(col("__bucket")).distinct()
      .collect().map(_.getLong(0))
    val state = spark.read.parquet(path)
      .where(col("__bucket").isin(touched: _*))
    val merged = Checkpoints.truncate(merge(state, deltaP, keys))
    Checkpoints.free(deltaP)
    // dynamic overwrite: only the touched __bucket= partitions are
    // replaced; untouched buckets' files are never opened or rewritten
    replacePartitions(merged, "__bucket", path)
    Checkpoints.free(merged)
  }

  /** Read the finalized view: keys, n, total, lo, hi, mean. */
  def read(spark: SparkSession, path: String, keys: Seq[String]): DataFrame =
    spark.read.parquet(path)
      .select((keys.map(col) :+ col("__cnt").as("n") :+
        col("__sum").as("total") :+ col("__min").as("lo") :+
        col("__max").as("hi") :+
        (col("__sum") / col("__cnt")).as("mean")): _*)

  // ----------------------------------------------------------------
  // Streaming maintenance: per-micro-batch partials, exactly-once.

  /** Write one micro-batch's partials under `__batch=<batchId>` via
    * dynamic partition overwrite. This is the foreachBatch sink shape
    * for STREAM-maintained aggregates: Structured Streaming replays
    * the last uncommitted batch after a crash WITH THE SAME batchId,
    * and an overwrite of that batch's own partition is idempotent —
    * the replay replaces its half-written files instead of
    * double-counting. (The standard exactly-once-by-idempotence
    * contract for foreachBatch sinks.) */
  def appendBatchPartials(batch: DataFrame, keys: Seq[String],
      valueCol: String, path: String, batchId: Long,
      nBuckets: Int = 64): Unit =
    replacePartitions(partials(batch, keys, valueCol, nBuckets)
      .withColumn("__batch", lit(batchId)), "__batch", path)

  /** Finalized view over batch-partitioned partials: one hash
    * aggregation across all batches' partial rows (each batch
    * contributes at most one row per touched key, so this reads
    * key-cardinality-sized data per batch, never the raw stream).
    * Periodic compaction = `read` → `create` when batch count grows. */
  def readMergedBatches(spark: SparkSession, path: String,
      keys: Seq[String]): DataFrame =
    spark.read.parquet(path)
      .groupBy(keys.map(col): _*)
      .agg(sum(col("__cnt")).as("n"), sum(col("__sum")).as("total"),
        min(col("__min")).as("lo"), max(col("__max")).as("hi"))
      .withColumn("mean", col("total") / col("n"))
}

/** Incrementally-maintained DISTINCT counts — the sketch-state cousin
  * of [[MaterializedAgg]]: `COUNT(DISTINCT v)` is NOT
  * self-maintainable from scalar partials (a delta row may or may not
  * be new), but a DataSketches HLL sketch per key IS — union is
  * slot-wise max: commutative, associative, idempotent — so the state
  * table stores one binary sketch per (key, bucket) and a refresh
  * unions delta sketches in, never rescanning the base. The canonical
  * 100 TB use: distinct users per entity maintained by daily deltas,
  * where the exact-distinct shuffle (every (key, value) pair crossing
  * the wire) is replaced by one lgK-bounded sketch per key per
  * refresh. Same bucket-partitioned layout and touched-bucket-only
  * dynamic overwrite as [[MaterializedAgg]]. */
object MaterializedDistinct {

  /** One HLL sketch of `valueCol` per (keys, bucket). */
  def partials(df: DataFrame, keys: Seq[String], valueCol: String,
      nBuckets: Int, lgK: Int = 12): DataFrame =
    df.groupBy(keys.map(col) :+
        pmod(xxhash64(keys.map(col): _*), lit(nBuckets.toLong))
          .as("__bucket"): _*)
      .agg(hll_sketch_agg(col(valueCol), lgK).as("__hll"))

  private def merge(a: DataFrame, b: DataFrame, keys: Seq[String],
      lgK: Int): DataFrame =
    a.unionByName(b)
      .groupBy((keys :+ "__bucket").map(col): _*)
      .agg(hll_union_agg(col("__hll"), false)
        .as("__hll"))

  def create(df: DataFrame, keys: Seq[String], valueCol: String,
      path: String, nBuckets: Int = 64, lgK: Int = 12): Unit =
    MaterializedAgg.writePartitioned(partials(df, keys, valueCol, nBuckets, lgK),
      "__bucket", path)

  /** Union `delta`'s sketches into the state at `path`; reads and
    * rewrites only the buckets the delta touches. */
  def refresh(spark: SparkSession, path: String, delta: DataFrame,
      keys: Seq[String], valueCol: String, nBuckets: Int = 64,
      lgK: Int = 12): Unit = {
    val deltaP = Checkpoints.truncate(
      partials(delta, keys, valueCol, nBuckets, lgK))
    val touched = deltaP.select(col("__bucket")).distinct()
      .collect().map(_.getLong(0))
    val state = spark.read.parquet(path)
      .where(col("__bucket").isin(touched: _*))
    val merged = Checkpoints.truncate(merge(state, deltaP, keys, lgK))
    Checkpoints.free(deltaP)
    MaterializedAgg.replacePartitions(merged, "__bucket", path)
    Checkpoints.free(merged)
  }

  /** Finalized view: keys, `n_distinct_est` (the HLL estimate — for a
    * union-built sketch this is deterministic in the VALUE SET, not
    * the insertion order). */
  def read(spark: SparkSession, path: String, keys: Seq[String]): DataFrame =
    spark.read.parquet(path)
      .groupBy(keys.map(col): _*)
      .agg(hll_sketch_estimate(
        hll_union_agg(col("__hll"), false))
        .as("n_distinct_est"))

  // ----------------------------------------------------------------
  // Streaming maintenance — the sketch-state twin of
  // [[MaterializedAgg.appendBatchPartials]]: one HLL sketch per
  // (key, bucket) per micro-batch under its own `__batch=` partition.
  // The exactly-once story is the same (a replayed batch overwrites
  // its own partition) PLUS sketch idempotence: even a value seen in
  // TWO batches perturbs nothing, because HLL union is slot-wise max.

  /** Land one micro-batch's sketches under `__batch=<batchId>` —
    * idempotent under Structured Streaming's replayed-batch
    * contract. */
  def appendBatchPartials(batch: DataFrame, keys: Seq[String],
      valueCol: String, path: String, batchId: Long,
      nBuckets: Int = 64, lgK: Int = 12): Unit =
    MaterializedAgg.replacePartitions(partials(batch, keys, valueCol, nBuckets, lgK)
      .withColumn("__batch", lit(batchId)), "__batch", path)

  /** Finalized view over batch-partitioned sketches: one union per
    * key across all batches (reads one lgK-bounded sketch per touched
    * key per batch — never the raw stream). */
  def readMergedBatches(spark: SparkSession, path: String,
      keys: Seq[String]): DataFrame =
    spark.read.parquet(path)
      .groupBy(keys.map(col): _*)
      .agg(hll_sketch_estimate(
        hll_union_agg(col("__hll"), false))
        .as("n_distinct_est"))
}
