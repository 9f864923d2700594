package org.apache.spark.sql.execution.datasources.parquet
package graftbridge

import org.apache.parquet.hadoop.Footer
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Bridge to the `private[parquet]` footer-to-schema conversion of
  * Spark's parquet source. Lives under Spark's parquet package solely to
  * satisfy the qualified-private access. */
object ParquetBridge {

  /** The schema Spark's parquet source reads a file with this footer as:
    * `ParquetFileFormat.readSchema` under `spark`'s parquet confs (the
    * converter the one-task inference job of a non-merged
    * `spark.read.parquet` builds), every field nullable as a file-source
    * relation makes it. */
  def schema(spark: SparkSession, footer: Footer): Option[StructType] =
    ParquetFileFormat.readSchema(Seq(footer), spark).map(_.asNullable)
}
