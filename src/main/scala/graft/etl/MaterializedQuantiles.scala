package graft.etl

import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Incrementally-maintained QUANTILES — the third member of the
  * materialized-view family ([[MaterializedAgg]] scalar partials,
  * [[MaterializedDistinct]] HLL sketch state): order statistics are
  * not self-maintainable from scalar partials, and the usual quantile
  * sketches (GK, KLL, t-digest) are either merge-order- or
  * randomness-sensitive — a refresh could change the estimate without
  * any data change, which breaks both retry-stability and any
  * independent oracle.
  *
  * The state here is a DETERMINISTIC BOTTOM-K ROW SAMPLE per key: the
  * k rows whose portable 48-bit md5 hash of the row id
  * ([[graft.ops.Kmv.kmvHash]]) is smallest, ties broken by the id.
  * That structure is
  *
  *  - a uniform sample (the hash is uniform and independent of the
  *    value — the same hash-order-sampling argument as reservoir
  *    sampling, but with a deterministic, engine-portable order);
  *  - MERGEABLE and idempotent: bottom-k of a union = bottom-k of the
  *    two bottom-k's, so absorbing a delta is
  *    `mink(state ∪ mink(delta))` — the base is never rescanned, and
  *    replaying the same delta changes nothing;
  *  - exact below k rows (the sample IS the key's data);
  *  - value-set deterministic: incremental maintenance and a one-shot
  *    build produce BYTE-IDENTICAL state, so estimates never move
  *    under refresh, retry, or partitioning — and a SQL oracle can
  *    rebuild the sample and the quantile rule independently.
  *
  * Quantile rule (fixed so any engine reproduces it): sort the ≤k
  * sampled values ascending, return element `floor((n−1)·p) + 1`
  * (1-based) — the "lower" empirical quantile. Sampling error is the
  * usual √(p(1−p)/k) binomial band; k=256 gives ~±3% rank error,
  * constant state per key regardless of key size.
  *
  * Same 100 TB layout as the siblings: state hash-bucketed on the
  * grouping key, refresh pre-aggregates the delta (one ≤k-row sample
  * per touched key crosses the shuffle), reads only touched bucket
  * partitions, rewrites only those via dynamic partition overwrite. */
object MaterializedQuantiles {

  /** Bounded mergeable bottom-k sample: keeps the k (hash, id, value)
    * rows with the smallest (hash, id), sorted. Idempotent on
    * duplicate (hash, id) — a replayed row cannot double-insert. */
  class MinKSample(k: Int) extends Aggregator[(Long, Long, Double),
      Array[(Long, Long, Double)], Array[(Long, Long, Double)]] {
    require(k > 0, "k must be positive")
    private type Row = (Long, Long, Double)
    private def lt(a: Row, b: Row): Boolean =
      a._1 < b._1 || (a._1 == b._1 && a._2 < b._2)
    private def same(a: Row, b: Row): Boolean =
      a._1 == b._1 && a._2 == b._2

    override def zero: Array[Row] = Array.empty

    override def reduce(b: Array[Row], a: Row): Array[Row] = {
      if (b.length == k && !lt(a, b(k - 1))) return b
      // binary search for insertion point by (hash, id)
      var lo = 0; var hi = b.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (lt(b(mid), a)) lo = mid + 1 else hi = mid
      }
      if (lo < b.length && same(b(lo), a)) return b // idempotent
      val n = math.min(k, b.length + 1)
      val out = new Array[Row](n)
      System.arraycopy(b, 0, out, 0, lo)
      out(lo) = a
      System.arraycopy(b, lo, out, lo + 1, n - lo - 1)
      out
    }

    override def merge(b1: Array[Row], b2: Array[Row]): Array[Row] = {
      if (b1.isEmpty) return b2
      if (b2.isEmpty) return b1
      val out = new Array[Row](math.min(k, b1.length + b2.length))
      var i = 0; var j = 0; var n = 0
      while (n < k && (i < b1.length || j < b2.length)) {
        val v =
          if (j >= b2.length || (i < b1.length && !lt(b2(j), b1(i)))) {
            val x = b1(i); i += 1
            if (j < b2.length && same(b2(j), x)) j += 1 // dedup replays
            x
          } else { val x = b2(j); j += 1; x }
        out(n) = v; n += 1
      }
      if (n == out.length) out else java.util.Arrays.copyOf(out, n)
    }

    override def finish(b: Array[Row]): Array[Row] = b

    override def bufferEncoder = Encoders.kryo[Array[Row]]
    override def outputEncoder =
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[Array[Row]]()
  }

  private def bucketOf(keys: Seq[String], nBuckets: Int): Column =
    pmod(xxhash64(keys.map(col): _*), lit(nBuckets.toLong)).as("__bucket")

  /** Per-(keys, bucket) bottom-k sample rows of `df`: columns keys,
    * `__bucket`, `__h`, `__rid`, `__v`. One partial-agg shuffle with
    * ≤ k rows of state per key per side. NULL values are excluded
    * (order statistics over the non-null population). */
  def partials(df: DataFrame, keys: Seq[String], idCol: String,
      valueCol: String, k: Int, seed: String, nBuckets: Int): DataFrame = {
    val agg = udaf(new MinKSample(k), Encoders.tuple(
      Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaDouble))
    df.where(col(valueCol).isNotNull)
      .groupBy(keys.map(col) :+ bucketOf(keys, nBuckets): _*)
      .agg(agg(graft.ops.Kmv.kmvHash(col(idCol), seed),
        col(idCol).cast("long"), col(valueCol).cast("double"))
        .as("__samp"))
      .select(keys.map(col) ++ Seq(col("__bucket"),
        explode(col("__samp")).as("__row")): _*)
      .select(keys.map(col) ++ Seq(col("__bucket"),
        col("__row._1").as("__h"), col("__row._2").as("__rid"),
        col("__row._3").as("__v")): _*)
  }

  /** Initialize the state table at `path`. */
  def create(df: DataFrame, keys: Seq[String], idCol: String,
      valueCol: String, path: String, k: Int = 256,
      seed: String = "mq", nBuckets: Int = 64): Unit =
    MaterializedAgg.writePartitioned(
      partials(df, keys, idCol, valueCol, k, seed, nBuckets), "__bucket", path)

  /** Absorb `delta`: bottom-k of (state ∪ mink(delta)) per key, only
    * in the buckets the delta touches. `k`/`seed`/`nBuckets` must
    * match creation. */
  def refresh(spark: SparkSession, path: String, delta: DataFrame,
      keys: Seq[String], idCol: String, valueCol: String, k: Int = 256,
      seed: String = "mq", nBuckets: Int = 64): Unit = {
    val agg = udaf(new MinKSample(k), Encoders.tuple(
      Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaDouble))
    val deltaP = Checkpoints.truncate(
      partials(delta, keys, idCol, valueCol, k, seed, nBuckets))
    val touched = deltaP.select(col("__bucket")).distinct()
      .collect().map(_.getLong(0)) // bounded: at most nBuckets values
    val state = spark.read.parquet(path)
      .where(col("__bucket").isin(touched: _*))
    val merged = Checkpoints.truncate(
      state.unionByName(deltaP)
        .groupBy((keys :+ "__bucket").map(col): _*)
        .agg(agg(col("__h"), col("__rid"), col("__v")).as("__samp"))
        .select(keys.map(col) ++ Seq(col("__bucket"),
          explode(col("__samp")).as("__row")): _*)
        .select(keys.map(col) ++ Seq(col("__bucket"),
          col("__row._1").as("__h"), col("__row._2").as("__rid"),
          col("__row._3").as("__v")): _*))
    Checkpoints.free(deltaP)
    MaterializedAgg.replacePartitions(merged, "__bucket", path)
    Checkpoints.free(merged)
  }

  /** Finalized view: keys, `n_sample`, and one column per requested
    * (name, p): the lower empirical quantile of the sample —
    * element `floor((n−1)·p)+1` of the value-sorted sample. The
    * aggregation reads ≤ k state rows per key. */
  def read(spark: SparkSession, path: String, keys: Seq[String],
      probs: Seq[(String, Double)]): DataFrame =
    quantileView(spark.read.parquet(path), keys, probs)

  private def quantileView(state: DataFrame, keys: Seq[String],
      probs: Seq[(String, Double)]): DataFrame = {
    val base = state
      .groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(col("__v"))).as("__vs"))
      .withColumn("n_sample", size(col("__vs")).cast("long"))
    val qCols = probs.map { case (name, p) =>
      element_at(col("__vs"),
        (floor((col("n_sample") - 1) * lit(p)) + 1).cast("int")).as(name)
    }
    base.select(keys.map(col) ++ (col("n_sample") +: qCols): _*)
  }

  // ----------------------------------------------------------------
  // Streaming maintenance — the third leg (with MaterializedAgg and
  // MaterializedDistinct): per-micro-batch bottom-k partials land
  // under their own `__batch=` partition (replay overwrites itself),
  // and because the sample is DETERMINISTIC in the (hash, id) set,
  // the merged view is bit-identical to a one-shot build no matter
  // how the stream chopped the input.

  /** Land one micro-batch's bottom-k partials under
    * `__batch=<batchId>` — idempotent under the replayed-batch
    * contract. */
  def appendBatchPartials(batch: DataFrame, keys: Seq[String],
      idCol: String, valueCol: String, path: String, batchId: Long,
      k: Int = 256, seed: String = "mq", nBuckets: Int = 64): Unit =
    MaterializedAgg.replacePartitions(
      partials(batch, keys, idCol, valueCol, k, seed, nBuckets)
        .withColumn("__batch", lit(batchId)), "__batch", path)

  /** Finalized view over batch-partitioned partials: re-select the
    * global bottom-k per key across batches (≤ k rows per key per
    * batch read — never the raw stream), then the quantile rule. */
  def readMergedBatches(spark: SparkSession, path: String,
      keys: Seq[String], probs: Seq[(String, Double)],
      k: Int = 256): DataFrame = {
    val agg = udaf(new MinKSample(k), Encoders.tuple(
      Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaDouble))
    val merged = spark.read.parquet(path)
      .groupBy(keys.map(col): _*)
      .agg(agg(col("__h"), col("__rid"), col("__v")).as("__samp"))
      .select(keys.map(col) :+ explode(col("__samp")).as("__row"): _*)
      .select(keys.map(col) :+ col("__row._3").as("__v"): _*)
    quantileView(merged, keys, probs)
  }
}
