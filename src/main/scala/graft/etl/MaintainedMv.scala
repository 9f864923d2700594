package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession

/** INCREMENTALLY-maintained materialized view, wired into the
  * [[MvRewrite]] optimizer substitution — the composition of
  * [[MaterializedAgg]] (delta-bounded partial maintenance, never
  * rescans the base) and [[Mv]] (plan-fingerprint auto-rewrite):
  *
  *   - [[create]] builds the bucketed partial state AND the readable
  *     MV parquet, then registers the canonical aggregate's
  *     fingerprint over the CURRENT base snapshot — queries written
  *     against the base table start reading the MV.
  *   - [[ingestAndRefresh]] lands a delta into the base directory,
  *     absorbs it into the state (cost: the delta + the state buckets
  *     it touches), rewrites the MV parquet from the state (key-
  *     cardinality-sized, not base-sized), and re-registers the
  *     fingerprint of the NEW base snapshot. The old fingerprint dies
  *     with the old snapshot, so between the append and the refresh
  *     the rewrite correctly falls back to the live base scan — a
  *     stale MV is never served (the round-10 staleness gap), and
  *     after the refresh the substitution resumes without rescanning
  *     history.
  *
  * The maintainable shape is the canonical self-maintainable
  * aggregate (Mumick et al. 1997): per `keys`, `n = count(v)`,
  * `total = sum(v)`, `lo = min(v)`, `hi = max(v)`, `mean = avg(v)`
  * — exactly [[viewOf]]; column order matters because [[MvRewrite]]
  * re-aliases the MV scan positionally.
  *
  * Numeric contract for floating-point `valueCol`: `total`/`mean`
  * come from MERGED PARTIALS whose reduction order follows delta
  * arrival, so after a refresh the substituted answer can differ
  * from a from-scratch base scan by float ulps (~1e-15 relative) —
  * the same contract every distributed float SUM carries, but here
  * the divergence is ACROSS refreshes rather than across runs.
  * Callers needing bit-stable maintained sums should store the
  * measure in integer micro-units or DECIMAL (the discipline
  * `ops/TimeSeries.scala` uses), for which merge order is exact;
  * min/max/count are exact for every type. */
object MaintainedMv {

  /** The canonical maintainable aggregate over a parquet base
    * directory — write queries in THIS shape (or through this
    * helper) and the optimizer substitutes the maintained MV. */
  def viewOf(spark: SparkSession, baseDir: String,
      keys: Seq[String], valueCol: String): DataFrame =
    spark.read.parquet(baseDir).groupBy(keys.map(col): _*)
      .agg(count(col(valueCol)).as("n"),
        sum(col(valueCol)).as("total"),
        min(col(valueCol)).as("lo"),
        max(col(valueCol)).as("hi"),
        avg(col(valueCol)).as("mean"))

  /** Initialize state + MV from the base directory's current content
    * and register the rewrite. The base is aggregated ONCE (the
    * partials frame is checkpointed); the state write and the MV
    * write both read that materialization and are independent of each
    * other — overlapped ([[Par]]). */
  def create(spark: SparkSession, baseDir: String, keys: Seq[String],
      valueCol: String, statePath: String, mvPath: String,
      nBuckets: Int = 64): Unit = {
    val p = Checkpoints.truncate(MaterializedAgg.partials(
      spark.read.parquet(baseDir), keys, valueCol, nBuckets))
    Par.run(
      () => GraftSession.write(p).mode("overwrite").partitionBy("__bucket")
        .parquet(statePath),
      // the finalize shape MUST match MaterializedAgg.read (each key
      // lives in exactly one bucket, so partials are one row per key)
      () => GraftSession.write(p.select((keys.map(col) :+
          col("__cnt").as("n") :+ col("__sum").as("total") :+
          col("__min").as("lo") :+ col("__max").as("hi") :+
          (col("__sum") / col("__cnt")).as("mean")): _*))
        .mode("overwrite").parquet(mvPath))
    Mv.registerExisting(viewOf(spark, baseDir, keys, valueCol), mvPath)
    Checkpoints.free(p)
  }

  /** Append `delta` to the base directory, absorb it into the state
    * (delta-bounded — the base is never rescanned), and re-point the
    * rewrite at the refreshed MV. The base append and the state
    * refresh both read only the staged delta (the refresh never
    * touches the base dir) — independent, overlapped ([[Par]]). */
  def ingestAndRefresh(spark: SparkSession, baseDir: String,
      delta: DataFrame, keys: Seq[String], valueCol: String,
      statePath: String, mvPath: String, nBuckets: Int = 64): Unit = {
    val staged = Checkpoints.truncate(delta)
    Par.run(
      () => GraftSession.write(staged).mode("append").parquet(baseDir),
      () => MaterializedAgg.refresh(spark, statePath, staged, keys,
        valueCol, nBuckets))
    Checkpoints.free(staged)
    materializeAndRegister(spark, baseDir, keys, valueCol, statePath, mvPath)
  }

  /** Rebuild the MV parquet from the state (key-cardinality-sized)
    * and register the canonical aggregate's fingerprint over the
    * base directory's CURRENT file snapshot. */
  private def materializeAndRegister(spark: SparkSession, baseDir: String,
      keys: Seq[String], valueCol: String, statePath: String,
      mvPath: String): Unit = {
    GraftSession.write(MaterializedAgg.read(spark, statePath, keys)
      .select((keys.map(col) :+ col("n") :+ col("total") :+ col("lo") :+
        col("hi") :+ col("mean")): _*))
      .mode("overwrite").parquet(mvPath)
    Mv.registerExisting(viewOf(spark, baseDir, keys, valueCol), mvPath)
  }
}
