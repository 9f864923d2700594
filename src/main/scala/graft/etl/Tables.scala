package graft.etl

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.datasources.parquet.graftbridge.ParquetBridge
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
  *     is on (an engine conf [[graft.GraftSession]] fixes at build) — then
  *     it surfaces as a LongType of nanos since epoch, and we rebuild
  *     micros with integer division.
  *   - `timestamp[us]` with `isAdjustedToUTC=false`: Spark 4 infers
  *     TIMESTAMP_NTZ by default, which `unix_micros`, watermarks, and
  *     double-casts all reject. We cast to TimestampType — under the
  *     pinned-UTC session this is exactly the naive-as-UTC reading DuckDB
  *     applies to the same file.
  *   - `timestamp[us]` adjusted to UTC: already TimestampType; untouched.
  *
  * Every source read goes through [[parquetFile]], which learns a
  * single-file source's schema once per file version. Spark's own
  * inference runs a one-task job that reads a footer; [[footerSchema]]
  * reads that footer on the driver instead, and a gate that reads the same
  * unchanged file again reuses the schema, the way a table format keeps
  * the schema in its metadata instead of re-deriving it from the data
  * files.
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

  /** A plain file reads with the schema learnt from its footer once per
    * file version; a directory or a missing path reads as Spark infers
    * it. */
  private def readRaw(spark: SparkSession, path: String): DataFrame =
    fileVersion(spark, path) match {
      case Some(v) =>
        val s = Option(schemas.get(v)).getOrElse {
          val s = footerSchema(spark, Seq(path))
            .getOrElse(spark.read.parquet(path).schema)
          schemas.put(v, s)
          s
        }
        spark.read.schema(s).parquet(path)
      case None => spark.read.parquet(path)
    }

  private def fileVersion(spark: SparkSession,
      path: String): Option[FileVersion] = {
    val p = new Path(path)
    scala.util.Try(p.getFileSystem(graft.GraftSession.hadoopConf(spark))
      .getFileStatus(p)).toOption.filter(_.isFile).map { st =>
      FileVersion(st.getPath.toString, st.getLen, st.getModificationTime,
        spark.conf.getAll.filter { case (k, _) => schemaConf(k) })
    }
  }

  /** `spark.read.parquet(paths: _*)` with the schema [[footerSchema]]
    * learns on the driver, so no inference job runs. */
  def readParquet(spark: SparkSession, paths: Seq[String]): DataFrame =
    footerSchema(spark, paths) match {
      case Some(s) => spark.read.schema(s).parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }

  /** The schema `spark.read.parquet(paths: _*)` infers, from the one
    * footer Spark's non-merged inference reads, read on the driver and
    * converted by Spark's own code. That footer is the first summary
    * file, else the first data file by path, among the files `paths` name
    * and the files directly in the directories they name (hidden names
    * skipped, as Spark's file index skips them). None, for the caller to
    * let Spark infer, under schema merging, for a directory with a
    * visible subdirectory (a partitioned or nested layout), or when
    * anything about the paths or the footer surprises. */
  def footerSchema(spark: SparkSession, paths: Seq[String]): Option[StructType] =
    if (spark.conf.get("spark.sql.parquet.mergeSchema").toBoolean) None
    else scala.util.Try {
      val conf = graft.GraftSession.hadoopConf(spark)
      val leaves = paths.flatMap { p =>
        val hp = new Path(p)
        val fs = hp.getFileSystem(conf)
        val st = fs.getFileStatus(hp)
        if (st.isFile) Seq(st) else fs.listStatus(hp).toSeq
      }.filterNot(f => hidden(f.getPath.getName))
      if (leaves.exists(_.isDirectory)) None
      else {
        def named(n: String) = leaves.filter(_.getPath.getName == n)
        val data = leaves.filterNot(f => summary(f.getPath.getName))
        (named("_common_metadata") ++ named("_metadata") ++
            data.sortBy(_.getPath.toString).take(1)).headOption
          .flatMap(f => ParquetBridge.schema(spark, footer(conf, f)))
      }
    }.toOption.flatten

  private def summary(name: String): Boolean =
    name == "_common_metadata" || name == "_metadata"

  /** A name Spark's file index skips (`InMemoryFileIndex`'s rule). */
  private def hidden(name: String): Boolean =
    ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")) &&
      !name.startsWith("_common_metadata") && !name.startsWith("_metadata")

  private def footer(conf: org.apache.hadoop.conf.Configuration,
      f: FileStatus): Footer = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf),
      HadoopReadOptions.builder(conf)
        .withMetadataFilter(ParquetMetadataConverter.SKIP_ROW_GROUPS).build())
    try new Footer(f.getPath, reader.getFooter) finally reader.close()
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
