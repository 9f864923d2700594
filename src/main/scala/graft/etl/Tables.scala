package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StructType, TimestampNTZType, TimestampType}

/** Parquet table access with schema normalization.
  *
  * The driver's `events` table has shipped `ts` in THREE physical layouts
  * across testdata generations, and the contract of this module is that
  * downstream code never sees any of them — only a session-zoned
  * `TimestampType` at microsecond precision, which is what the DuckDB
  * oracle sees semantically (the session timezone is pinned to UTC by
  * every graft entry point):
  *
  *   - `TIMESTAMP(NANOS)`: Spark's reader rejects it outright
  *     (PARQUET_TYPE_ILLEGAL) unless `spark.sql.legacy.parquet.nanosAsLong`
  *     is on — then it surfaces as a LongType of nanos since epoch, and we
  *     rebuild micros with integer division.
  *   - `timestamp[us]` with `isAdjustedToUTC=false`: Spark 4 infers
  *     TIMESTAMP_NTZ by default, which `unix_micros`, watermarks, and
  *     double-casts all reject. We cast to TimestampType — under the
  *     pinned-UTC session this is exactly the naive-as-UTC reading DuckDB
  *     applies to the same file.
  *   - `timestamp[us]` adjusted to UTC: already TimestampType; untouched.
  *
  * Every source read goes through [[parquetFile]], which infers a
  * single-file source's schema once per file version. Spark's own
  * inference runs a one-task job that reads a footer; a gate that reads
  * the same unchanged file again reuses the schema that job found, the
  * way a table format keeps the schema in its metadata instead of
  * re-deriving it from the data files.
  */
object Tables {

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    parquetFile(spark, s"$dir/$name.parquet")

  /** The parquet source at `path` (a file or a directory), event time
    * normalized. */
  def parquetFile(spark: SparkSession, path: String): DataFrame =
    normalizeEventTime(readRaw(spark, path))

  /** The raw schema [[parquetFile]] reads `path` with, before event-time
    * normalization — what a stream over the same files must declare. */
  def parquetSchema(spark: SparkSession, path: String): StructType =
    readRaw(spark, path).schema

  /** The session confs that change what Spark infers from a footer. */
  private def schemaConf(key: String): Boolean =
    key == "spark.sql.caseSensitive" || key.startsWith("spark.sql.parquet.") ||
      key.startsWith("spark.sql.legacy.parquet.")

  /** One version of one file under one inference-relevant conf. */
  private case class FileVersion(path: String, length: Long,
    modified: Long, confs: Map[String, String])

  private val MaxSchemas = 256
  private val schemas = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[FileVersion, StructType](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[FileVersion, StructType]): Boolean =
        size() > MaxSchemas
    })

  /** A plain file reads with the schema Spark inferred for the same file
    * version; a directory, a missing path, a cache miss, a rewritten file
    * or a changed conf infers as Spark does. */
  private def readRaw(spark: SparkSession, path: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    fileVersion(spark, path) match {
      case Some(v) =>
        Option(schemas.get(v)) match {
          case Some(s) => spark.read.schema(s).parquet(path)
          case None =>
            val df = spark.read.parquet(path)
            schemas.put(v, df.schema)
            df
        }
      case None => spark.read.parquet(path)
    }
  }

  private def fileVersion(spark: SparkSession,
      path: String): Option[FileVersion] = {
    val p = new org.apache.hadoop.fs.Path(path)
    scala.util.Try(p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getFileStatus(p)).toOption.filter(_.isFile).map { st =>
      FileVersion(st.getPath.toString, st.getLen, st.getModificationTime,
        spark.conf.getAll.filter { case (k, _) => schemaConf(k) })
    }
  }

  /** Canonical event-time normalization: rewrite `ts` (when present) from
    * any of the known physical layouts to session-zoned TimestampType µs.
    * Idempotent; frames without a `ts` column pass through unchanged. */
  def normalizeEventTime(df: DataFrame, colName: String = "ts"): DataFrame =
    df.schema.find(_.name == colName).map(f => normalizedTs(f.dataType, colName)) match {
      case Some(Some(c)) => df.withColumn(colName, c)
      case _             => df
    }

  /** The normalizing expression for one physical type, or None when the
    * column is already canonical (or is some unrelated type we must not
    * touch). */
  private def normalizedTs(dt: DataType, colName: String): Option[Column] = dt match {
    // Integer division (`div`), never `/`: long / long promotes to
    // double, and nanos-since-epoch (~1.7e18) exceeds double's 53-bit
    // exact range — ~2% of timestamps would come back 1µs low after
    // the truncating cast. `div` keeps the conversion exact.
    case LongType         => Some(timestamp_micros(expr(s"$colName div 1000")))
    case TimestampNTZType => Some(col(colName).cast(TimestampType))
    case _                => None
  }
}
