package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Schema-evolution-tolerant reads over a landed batch history — the
  * ingestion reality a long-lived 100 TB corpus accretes: early
  * batches lack columns later batches carry, and numeric columns
  * widen (int → long → double) across producer versions. The
  * reference's ingestion fixes one explicit DDL up front
  * (`local_data_ingestion.py:31-47`); this is the read-side contract
  * once the DDL has MOVED under a years-long table.
  *
  * Two layers:
  *  - [[readEvolved]]: parquet `mergeSchema` read of a batch-
  *    partitioned directory tree — schema union with per-file column
  *    pruning intact (each file's scan reads only the columns it
  *    HAS; absent columns surface as NULL, Spark's native behavior).
  *  - [[conform]]: align an arbitrary batch frame to a target schema
  *    — add missing columns as typed NULLs, WIDEN-cast compatible
  *    types (never narrow — a lossy cast throws instead of silently
  *    truncating at scale), drop extras only when asked.
  *
  * Together they give `union-by-name-with-null-fill` semantics across
  * the whole history without rewriting old files — rewriting 100 TB
  * because one column appeared is the anti-pattern. */
object SchemaEvolution {

  /** Read a directory of parquet batches whose schemas drifted:
    * schema = union across files, missing columns NULL. */
  def readEvolved(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  private val widenRank: Map[DataType, Int] = Map(
    ByteType -> 0, ShortType -> 1, IntegerType -> 2, LongType -> 3,
    FloatType -> 4, DoubleType -> 5)

  /** True when `from` can be cast to `to` without loss of magnitude
    * (numeric widening chain, or identical types). */
  def widens(from: DataType, to: DataType): Boolean =
    from == to ||
      (widenRank.contains(from) && widenRank.contains(to) &&
        widenRank(from) <= widenRank(to))

  /** Align `df` to `target`: missing columns become typed NULLs,
    * compatible columns widen-cast, column order follows `target`.
    * Extra columns fail unless `dropExtras` (silently losing data at
    * ingestion is the worst failure mode — make it explicit). A
    * non-widening type change (e.g. long → int, string → double)
    * fails loudly for the same reason. */
  def conform(df: DataFrame, target: StructType,
      dropExtras: Boolean = false): DataFrame = {
    val have = df.schema.map(f => f.name -> f.dataType).toMap
    val extras = df.columns.filterNot(c => target.fieldNames.contains(c))
    require(dropExtras || extras.isEmpty,
      s"batch carries columns absent from the target schema: " +
        s"${extras.mkString(", ")} (pass dropExtras=true to discard)")
    val cols = target.fields.map { f =>
      have.get(f.name) match {
        case None => lit(null).cast(f.dataType).as(f.name)
        case Some(t) if t == f.dataType => col(f.name)
        case Some(t) if widens(t, f.dataType) =>
          col(f.name).cast(f.dataType).as(f.name)
        case Some(t) => throw new IllegalArgumentException(
          s"column ${f.name}: batch type $t does not widen to " +
            s"target ${f.dataType}")
      }
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** Land `batch` under `root/batch=<id>` after conforming it to
    * `target` — the append path of an evolving table: old files are
    * NEVER rewritten (the union schema lives in the read), and a
    * replayed batch id overwrites only its own partition. */
  def appendConformed(batch: DataFrame, target: StructType, root: String,
      batchId: Long, dropExtras: Boolean = false): Unit =
    graft.GraftSession.write(conform(batch, target, dropExtras)
        .withColumn("batch", lit(batchId)))
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch").parquet(root)
}
