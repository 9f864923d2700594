package graft.etl

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetWriter}
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, PrimitiveType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** Driver-side parquet I/O for METADATA-SCALE manifests (zone maps,
  * membership sketches, time-travel snapshots): a manifest probe or
  * commit is a metadata operation — one row per data file — and
  * running it as a Spark job charges a full job/stage/task cycle
  * (~60–80 ms each, ~15 per lifecycle gate measured by `ProfileJobs`
  * in r15) for reading a few KB. This is the same posture as every
  * table format's metadata layer: Delta/Iceberg commits and manifest
  * scans are driver/metadata-side, bounded by manifest size, with the
  * data files themselves still read distributed.
  *
  * Bounds and fallbacks: every read refuses (returns None) past
  * [[MaxBytes]] of manifest parquet or on ANY structural surprise
  * (unexpected types, lists where scalars were expected, corrupt
  * footers) — callers keep their distributed read as the fallback, so
  * a manifest a future writer fattens beyond metadata scale degrades
  * to the old Spark path instead of the driver. Writes emit the same
  * physical parquet Spark's writer would (matching primitive types and
  * logical annotations), so Spark-written and driver-written manifest
  * versions stay union- and merge-compatible in either direction. */
private[etl] object ManifestIo {

  /** Refuse driver-side reads past this total manifest size: far above
    * any metadata-scale manifest (64 MB ≈ millions of file entries)
    * and far below driver heap. */
  private val MaxBytes = 64L * 1024 * 1024

  /** One manifest row as (column name → JVM value); absent/null
    * columns are absent from the map. List-of-long columns (the
    * membership sketch's `slots`) surface as `Seq[Long]`. */
  type Row = Map[String, Any]

  /** All rows of the small parquet file/dir at `path`, read on the
    * driver (no Spark job); None when the manifest is missing, too
    * large, or anything about it surprises. */
  def readRows(conf: Configuration, path: String): Option[Seq[Row]] =
    try {
      val p = new Path(path)
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) return None
      val files =
        if (fs.getFileStatus(p).isFile) Seq(fs.getFileStatus(p))
        else fs.listStatus(p).toSeq.filter(f => f.isFile && {
          val n = f.getPath.getName
          n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
        })
      if (files.isEmpty || files.map(_.getLen).sum > MaxBytes) return None
      val rows = Vector.newBuilder[Row]
      files.foreach { f =>
        val in = HadoopInputFile.fromPath(f.getPath, conf)
        val reader = ParquetFileReader.open(in, HadoopReadOptions.builder(conf).build())
        try {
          val schema = reader.getFooter.getFileMetaData.getSchema
          val io = new ColumnIOFactory().getColumnIO(schema)
          var pages = reader.readNextRowGroup()
          while (pages != null) {
            val rr = io.getRecordReader(pages, new GroupRecordConverter(schema))
            var i = 0L
            val n = pages.getRowCount
            while (i < n) {
              rows += decode(rr.read(), schema)
              i += 1
            }
            pages = reader.readNextRowGroup()
          }
        } finally reader.close()
      }
      Some(rows.result())
    } catch { case scala.util.control.NonFatal(_) => None }

  private def decode(g: Group, schema: MessageType): Row = {
    val b = Map.newBuilder[String, Any]
    schema.getFields.asScala.zipWithIndex.foreach { case (field, idx) =>
      if (g.getFieldRepetitionCount(idx) > 0) {
        if (field.isPrimitive)
          b += field.getName -> primitive(g, idx, field.asPrimitiveType())
        else
          b += field.getName -> list(g.getGroup(idx, 0))
      }
    }
    b.result()
  }

  private def primitive(g: Group, idx: Int, t: PrimitiveType): Any =
    t.getPrimitiveTypeName match {
      case INT64 => g.getLong(idx, 0)
      case INT32 => t.getLogicalTypeAnnotation match {
        case a: LogicalTypeAnnotation.IntLogicalTypeAnnotation
            if a.getBitWidth == 8 => g.getInteger(idx, 0).toByte
        case a: LogicalTypeAnnotation.IntLogicalTypeAnnotation
            if a.getBitWidth == 16 => g.getInteger(idx, 0).toShort
        case _ => g.getInteger(idx, 0)
      }
      case FLOAT => g.getFloat(idx, 0)
      case DOUBLE => g.getDouble(idx, 0)
      case BINARY => g.getString(idx, 0) // manifests only carry UTF8 binaries
      case other => sys.error(s"unexpected manifest column type $other")
    }

  /** Spark's 3-level list layout: group (LIST) { repeated group list {
    * element } } — the membership sketch's sorted slot array. */
  private def list(lg: Group): Seq[Long] = {
    val n = lg.getFieldRepetitionCount(0)
    (0 until n).map { i =>
      val el = lg.getGroup(0, i)
      el.getLong(0, 0)
    }
  }

  /** The parquet schema Spark's writer would produce for a zone-map
    * manifest whose cluster column is `clusterType`; None for types
    * the driver-side writer does not handle (callers use the Spark
    * write). */
  def manifestSchema(clusterType: DataType): Option[MessageType] =
    primitiveFor(clusterType).map { pt =>
      Types.buildMessage()
        .addField(Types.required(BINARY)
          .as(LogicalTypeAnnotation.stringType()).named("file"))
        .addField(pt("min_v"))
        .addField(pt("max_v"))
        .addField(Types.required(INT64).named("n_rows"))
        .named("spark_schema")
    }

  private def primitiveFor(dt: DataType): Option[String => PrimitiveType] =
    dt match {
      case ByteType => Some(n => Types.optional(INT32)
        .as(LogicalTypeAnnotation.intType(8, true)).named(n))
      case ShortType => Some(n => Types.optional(INT32)
        .as(LogicalTypeAnnotation.intType(16, true)).named(n))
      case IntegerType => Some(n => Types.optional(INT32).named(n))
      case LongType => Some(n => Types.optional(INT64).named(n))
      case FloatType => Some(n => Types.optional(FLOAT).named(n))
      case DoubleType => Some(n => Types.optional(DOUBLE).named(n))
      case _ => None
    }

  /** Write `(file, min_v, max_v, n_rows)` rows as ONE parquet file
    * under dir `path` (the shape the old `coalesce(1)` Spark write
    * produced), driver-side. */
  def writeZoneRows(conf: Configuration, path: String, schema: MessageType,
      rows: Seq[(String, Any, Any, Long)]): Unit = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(conf)
    if (fs.exists(dir)) fs.delete(dir, true)
    fs.mkdirs(dir)
    val file = new Path(dir,
      s"part-00000-${java.util.UUID.randomUUID()}.parquet")
    val writer = ExampleParquetWriter.builder(
        HadoopOutputFile.fromPath(file, conf))
      .withType(schema)
      .withConf(conf)
      .withWriteMode(org.apache.parquet.hadoop.ParquetFileWriter.Mode.OVERWRITE)
      .withCompressionCodec(
        org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .build()
    try rows.foreach { case (f, lo, hi, n) =>
      val g = new SimpleGroup(schema)
      g.append("file", f)
      addStat(g, "min_v", lo)
      addStat(g, "max_v", hi)
      g.add("n_rows", n)
      writer.write(g)
    } finally writer.close()
    // the _SUCCESS marker Spark's committer leaves (readers don't need
    // it, but manifest dirs stay shape-identical across commit paths)
    fs.create(new Path(dir, "_SUCCESS"), true).close()
  }

  private def addStat(g: Group, name: String, v: Any): Unit = v match {
    case null => ()
    case b: Byte => g.add(name, b.toInt)
    case s: Short => g.add(name, s.toInt)
    case i: Int => g.add(name, i)
    case l: Long => g.add(name, l)
    case f: Float => g.add(name, f)
    case d: Double => g.add(name, d)
    case other => sys.error(s"unexpected manifest stat $other")
  }
}
