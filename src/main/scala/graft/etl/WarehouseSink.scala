package graft.etl

import org.apache.spark.sql.DataFrame

import graft.GraftSession

/** Warehouse sinks (reference S7/S8:
  * `local_data_ingestion.py:31-49,116-130` — CREATE IF NOT EXISTS +
  * TRUNCATE + INSERT…SELECT, i.e. an idempotent full refresh; and the
  * notebook's CTAS `.ipynb:239-240`).
  *
  * Spark-first: a write in mode `overwrite` IS create-if-absent +
  * truncate + insert in one atomic-per-table operation. */
object WarehouseSink {

  /** Idempotent full refresh of a managed catalog table. */
  def overwriteTable(df: DataFrame, table: String): Unit =
    GraftSession.write(df).mode("overwrite").saveAsTable(table)

  /** Idempotent full refresh of a parquet path, partitioned by the given
    * columns (the 100 TB landing form: natural-key partitions prune). */
  def overwritePath(df: DataFrame, path: String,
      partitionBy: Seq[String] = Nil): Unit = {
    val w = GraftSession.write(df).mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(path)
  }

  /** Keyed upsert (MERGE-by-key) into a managed table: existing rows
    * with matching keys are replaced, new rows appended — the
    * incremental-refresh form of [[overwriteTable]] for continuously
    * curated corpora. Implemented as anti-join + union + swap (plain
    * parquet tables have no transactional MERGE; at 100 TB the same
    * shape runs per-partition against a partitioned table so only
    * touched partitions rewrite). The staging temp table keeps the
    * source readable while its target is replaced. */
  def upsertByKey(updates: DataFrame, table: String,
      keys: Seq[String]): Unit = {
    val spark = updates.sparkSession
    if (!spark.catalog.tableExists(table)) {
      GraftSession.write(updates).saveAsTable(table)
    } else {
      val existing = spark.table(table)
      val kept = existing.join(
        updates.select(keys.map(org.apache.spark.sql.functions.col): _*),
        keys, "left_anti")
      val tmp = table + "__upsert_tmp"
      GraftSession.write(kept.unionByName(updates)).mode("overwrite")
        .saveAsTable(tmp)
      spark.sql(s"DROP TABLE `$table`")
      spark.sql(s"ALTER TABLE `$tmp` RENAME TO `$table`")
    }
  }

  /** Catalog-level `ALTER TABLE RENAME COLUMN` parity (reference
    * `.ipynb` cell 5 renames RETUNR_TYPE post-load). On a V2 catalog
    * this is pure metadata; the built-in session catalog (V1) rejects
    * RENAME COLUMN, so we fall back to rewrite-and-swap — the honest
    * cost on V1, done via a temp table so the source is never read and
    * overwritten in the same job. */
  def renameColumn(spark: org.apache.spark.sql.SparkSession,
      table: String, from: String, to: String): Unit = {
    try spark.sql(s"ALTER TABLE $table RENAME COLUMN `$from` TO `$to`")
    catch {
      case _: org.apache.spark.sql.AnalysisException =>
        val tmp = table + "__rename_tmp"
        GraftSession.write(spark.table(table).withColumnRenamed(from, to))
          .mode("overwrite").saveAsTable(tmp)
        spark.sql(s"DROP TABLE `$table`")
        spark.sql(s"ALTER TABLE `$tmp` RENAME TO `$table`")
    }
  }

  /** Bucketed managed table: co-locates rows by `bucketCols` so joins
    * and aggregations on those keys read pre-partitioned data and skip
    * the shuffle entirely — the storage-layout lever for repeated
    * big-fact joins at 100 TB (vs paying an exchange per query).
    * Requires `saveAsTable` (bucket metadata lives in the catalog). */
  def overwriteBucketed(df: DataFrame, table: String,
      bucketCols: Seq[String], numBuckets: Int,
      sortCols: Seq[String] = Nil): Unit = {
    var w = GraftSession.write(df).mode("overwrite")
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
    if (sortCols.nonEmpty) w = w.sortBy(sortCols.head, sortCols.tail: _*)
    w.saveAsTable(table)
  }
}
