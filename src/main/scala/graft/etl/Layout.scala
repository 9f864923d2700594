package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

import graft.GraftSession

/** Data-layout levers for scan pruning at 100 TB.
  *
  * Parquet/scan pruning works off per-file (and per-rowgroup) min/max
  * statistics; a layout where each file spans the full domain of a
  * filter column prunes nothing. Sorting solves it for ONE column;
  * Z-ORDER (Morton-curve) clustering solves it for several at once:
  * interleave the bits of the (normalized) column values and
  * range-partition + sort by the interleaved key, so files become
  * hyper-rectangles in the multi-dimensional key space and a filter on
  * ANY clustered column skips most files.
  */
object Layout {

  /** Max added-file count for which a manifest commit collects stats
    * from the parquet footers driver-side; a larger commit falls back
    * to the distributed scan (the driver already paid an O(files)
    * listing, but footer reads shouldn't grow unbounded). */
  private val FooterStatsMaxFiles = 4096

  /** Per-file (min, max, n_rows) of `clusterCol` read from the
    * parquet FOOTERS of freshly-committed files, driver-side — the
    * stats a table-format commit collects from the write itself
    * (Delta/Iceberg writer stats): a manifest commit is a metadata
    * operation, not a Spark job. Only types whose footer min/max is
    * exact under the column's ordering are eligible — integral and
    * floating physical types; binary (string) stats may be
    * writer-truncated and decimal/timestamp carry logical-type
    * conversions — so anything else returns None and the caller runs
    * the distributed scan instead (which also covers corrupt or
    * stats-less footers). The `file` rendering matches
    * `input_file_name()` (the path URI) so manifests stay
    * set-comparable across commit paths. */
  private def footerStats(spark: org.apache.spark.sql.SparkSession,
      files: Seq[String], clusterCol: String,
      clusterType: org.apache.spark.sql.types.DataType)
      : Option[Seq[(String, Any, Any, Long)]] = {
    import org.apache.spark.sql.types._
    if (files.isEmpty || files.length > FooterStatsMaxFiles) return None
    val eligible = clusterType match {
      case ByteType | ShortType | IntegerType | LongType |
           FloatType | DoubleType => true
      case _ => false
    }
    if (!eligible) return None
    val conf = GraftSession.hadoopConf(spark)
    val rows = scala.util.Try {
      files.map { f =>
        val p = new org.apache.hadoop.fs.Path(new java.net.URI(f))
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf)
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in,
          org.apache.parquet.HadoopReadOptions.builder(conf).build())
        try {
          val blocks = reader.getFooter.getBlocks
          var nRows = 0L
          var minA: Any = null
          var maxA: Any = null
          val it = blocks.iterator()
          while (it.hasNext) {
            val b = it.next()
            nRows += b.getRowCount
            val cc = b.getColumns.asScala
              .find(_.getPath.toDotString == clusterCol)
              .getOrElse(sys.error(s"no column chunk for $clusterCol"))
            val st = cc.getStatistics
            if (b.getRowCount > 0) {
              // a block whose stats are absent/unreliable disqualifies
              // the footer path entirely (fallback scan) — EXCEPT the
              // all-null block, where empty stats are the truth
              if (st == null) sys.error("footer stats absent")
              if (st.hasNonNullValue) {
                val (lo, hi) = (st.genericGetMin, st.genericGetMax)
                def cmp(a: Any, b: Any): Int =
                  a.asInstanceOf[Comparable[Any]].compareTo(b)
                if (minA == null || cmp(lo, minA) < 0) minA = lo
                if (maxA == null || cmp(hi, maxA) > 0) maxA = hi
              } else if (!st.isNumNullsSet || st.getNumNulls < b.getRowCount)
                sys.error("footer stats absent for non-null block")
            }
          }
          // physical INT32 backs byte/short/int — convert to the
          // manifest's declared Spark type so unions stay consistent
          def conv(v: Any): Any = (v, clusterType) match {
            case (null, _) => null
            case (i: java.lang.Integer, ByteType) => i.byteValue()
            case (i: java.lang.Integer, ShortType) => i.shortValue()
            case (i: java.lang.Integer, IntegerType) => i
            case (l: java.lang.Long, LongType) => l
            case (x: java.lang.Float, FloatType) => x
            case (x: java.lang.Double, DoubleType) => x
            case _ => sys.error(s"unexpected footer stat type ${v.getClass}")
          }
          (p.toUri.toString, conv(minA), conv(maxA), nRows)
        } finally reader.close()
      }
    }.toOption
    rows
  }

  /** `df` as one file at `dest`, replacing what is there. */
  private def writeOneFile(df: DataFrame, dest: String): Unit =
    GraftSession.write(df.coalesce(1)).mode("overwrite").parquet(dest)

  /** `df` range-clustered on `clusterCol` into ~`numFiles` files at
    * `path`, each sorted on it. */
  private def writeClustered(df: DataFrame, path: String, clusterCol: String,
      numFiles: Int, mode: String): Unit =
    GraftSession.write(df.repartitionByRange(numFiles, col(clusterCol))
      .sortWithinPartitions(clusterCol)).mode(mode).parquet(path)

  /** Commit a manifest version for `files`: footer stats written
    * driver-side as one parquet file when the cluster type is
    * footer-exact ([[ManifestIo]] — zero Spark jobs, the table-format
    * commit posture), the distributed scan + write otherwise. */
  private def commitManifest(spark: org.apache.spark.sql.SparkSession,
      files: Seq[String], clusterCol: String,
      clusterType: org.apache.spark.sql.types.DataType,
      dest: String): Unit = {
    val conf = GraftSession.hadoopConf(spark)
    val done = (for {
      schema <- ManifestIo.manifestSchema(clusterType)
      rows <- footerStats(spark, files, clusterCol, clusterType)
    } yield scala.util.Try(
      ManifestIo.writeZoneRows(conf, dest, schema, rows)).isSuccess)
      .getOrElse(false)
    if (!done)
      writeOneFile(Tables.readParquet(spark, files)
        .groupBy(input_file_name().as("file"))
        .agg(min(col(clusterCol)).as("min_v"),
          max(col(clusterCol)).as("max_v"),
          count(lit(1)).as("n_rows")), dest)
  }

  /** Exact filesystem copy of one manifest dir to another (backfilling
    * a pre-versioning `_zonemap` as version 1) — a metadata file
    * operation, zero Spark jobs, and byte-exact so the backfilled v1
    * is literally "as first written". */
  private def copyManifestDir(spark: org.apache.spark.sql.SparkSession,
      from: String, to: String): Unit = {
    val conf = GraftSession.hadoopConf(spark)
    val src = new org.apache.hadoop.fs.Path(from)
    val dst = new org.apache.hadoop.fs.Path(to)
    val fs = dst.getFileSystem(conf)
    if (fs.exists(dst)) fs.delete(dst, true)
    org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dst, false, conf)
  }

  /** Literal value of a Column, for driver-side manifest predicates;
    * None for anything non-literal (callers fall back to the Spark
    * read). */
  private def literalOf(c: Column): Option[Any] =
    scala.util.Try(org.apache.spark.sql.graftbridge.Bridge.expression(c))
      .toOption.flatMap {
        case org.apache.spark.sql.catalyst.expressions.Literal(v, _) =>
          Option(v).map {
            case u: UTF8String => u.toString
            case other => other
          }
        case _ => None
      }

  /** Total order for driver-side zone-map overlap tests, mirroring
    * Spark's comparison on the manifest column type: exact integral
    * compare, BigDecimal across mixed numeric widths, UTF-8 byte order
    * for strings (UTF-16 `String.compareTo` puts supplementary-plane
    * characters before U+E000–U+FFFF, Spark puts them after); anything
    * else throws (the caller's Try falls back to the Spark read). */
  private def cmpStat(a: Any, b: Any): Int = (a, b) match {
    case (x: java.lang.Number, y: java.lang.Number) => (x, y) match {
      case _ if x.isInstanceOf[java.lang.Float] ||
          x.isInstanceOf[java.lang.Double] ||
          y.isInstanceOf[java.lang.Float] ||
          y.isInstanceOf[java.lang.Double] =>
        java.lang.Double.compare(x.doubleValue(), y.doubleValue())
      case _ => java.lang.Long.compare(x.longValue(), y.longValue())
    }
    case (x: String, y: String) =>
      UTF8String.fromString(x).compareTo(UTF8String.fromString(y))
    case _ => sys.error(s"incomparable manifest stat pair ($a, $b)")
  }

  /** Data files of the manifest at `manifestPath` whose [min, max]
    * overlaps [lo, hi] — driver-side when both bounds are literals
    * and the manifest reads cleanly, the Spark filter otherwise.
    * Files with absent (all-null) stats are excluded, exactly as the
    * SQL predicate's null semantics exclude them. */
  private def prunedFiles(spark: org.apache.spark.sql.SparkSession,
      manifestPath: String, lo: Column, hi: Column): Seq[String] = {
    val conf = GraftSession.hadoopConf(spark)
    val driverSide = for {
      l <- literalOf(lo)
      h <- literalOf(hi)
      rows <- ManifestIo.readRows(conf, manifestPath)
      files <- scala.util.Try(rows.collect {
        case r if r.contains("min_v") && r.contains("max_v") &&
            cmpStat(r("max_v"), l) >= 0 && cmpStat(r("min_v"), h) <= 0 =>
          r("file").asInstanceOf[String]
      }).toOption
    } yield files
    driverSide.getOrElse {
      spark.read.parquet(manifestPath)
        .where(col("max_v") >= lo && col("min_v") <= hi)
        .select("file").collect().map(_.getString(0)).toSeq
    }
  }

  /** The membership-sketch slot of a LITERAL probe, evaluated on the
    * driver through the exact catalyst expression the manifest was
    * built with (`pmod(xxhash64(cast(v as string)), 65536)`); None
    * for non-literal probes. */
  private def memberSlotOf(value: Column): Option[Long] =
    scala.util.Try {
      import org.apache.spark.sql.catalyst.expressions._
      org.apache.spark.sql.graftbridge.Bridge.expression(value) match {
        case l: Literal =>
          Option(Pmod(new XxHash64(Seq(
              Cast(l, org.apache.spark.sql.types.StringType, Some("UTC")))),
            Literal(65536L)).eval(null)).map(_.asInstanceOf[Long])
        case _ => None
      }
    }.toOption.flatten

  /** The `file` column of a manifest, driver-side with Spark
    * fallback. */
  private def manifestFiles(spark: org.apache.spark.sql.SparkSession,
      manifestPath: String): Seq[String] = {
    val conf = GraftSession.hadoopConf(spark)
    ManifestIo.readRows(conf, manifestPath)
      .flatMap(rows => scala.util.Try(
        rows.map(_("file").asInstanceOf[String])).toOption)
      .getOrElse(spark.read.parquet(manifestPath)
        .select("file").collect().map(_.getString(0)).toSeq)
  }

  /** Republish the current-table manifest (`path/_zonemap`) as an
    * exact filesystem copy of a committed version dir — a metadata
    * file operation, zero Spark jobs (the old read-back-and-rewrite
    * was a full query). Copy-then-swap: a crash leaves either the old
    * or the new manifest (or, between the two renames, none — in
    * which case every committed `_zonemap_v` version is still intact
    * and any commit republishes). */
  private def republishManifest(spark: org.apache.spark.sql.SparkSession,
      path: String, fromVersion: Long): Unit = {
    val conf = GraftSession.hadoopConf(spark)
    val src = new org.apache.hadoop.fs.Path(s"$path/_zonemap_v/$fromVersion")
    val dst = new org.apache.hadoop.fs.Path(s"$path/_zonemap")
    val tmp = new org.apache.hadoop.fs.Path(s"$path/_zonemap__publishing")
    val fs = dst.getFileSystem(conf)
    if (fs.exists(tmp)) fs.delete(tmp, true)
    org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, tmp, false, conf)
    if (fs.exists(dst)) fs.delete(dst, true)
    if (!fs.rename(tmp, dst))
      throw new java.io.IOException(s"could not publish $dst")
  }

  /** A pruned scan of the dataset at `path` over `files`, or an empty
    * frame of the dataset's schema when no file survives pruning. */
  private def prunedRead(spark: org.apache.spark.sql.SparkSession,
      path: String, files: Seq[String]): DataFrame =
    if (files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        Tables.readParquet(spark, Seq(path)).schema)
    else Tables.readParquet(spark, files)

  /** Data files of a flat parquet dir, rendered as path URIs (the
    * same rendering [[footerManifest]] and `input_file_name()` use,
    * so manifest strings stay set-comparable). Metadata-scale. */
  private def listDataFiles(spark: org.apache.spark.sql.SparkSession,
      path: String): Set[String] = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(GraftSession.hadoopConf(spark))
    fs.listStatus(hPath)
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.toUri.toString).toSet
  }

  /** Bit-spread of the low 32 bits of `x` into even bit positions
    * (Morton spreading via the classic mask cascade — pure codegen'd
    * long arithmetic, no UDF). */
  private[etl] def spreadBits(x: Column): Column = {
    var v = x.bitwiseAND(lit(0xFFFFFFFFL))
    v = (v.bitwiseOR(shiftleft(v, 16))).bitwiseAND(lit(0x0000FFFF0000FFFFL))
    v = (v.bitwiseOR(shiftleft(v, 8))).bitwiseAND(lit(0x00FF00FF00FF00FFL))
    v = (v.bitwiseOR(shiftleft(v, 4))).bitwiseAND(lit(0x0F0F0F0F0F0F0F0FL))
    v = (v.bitwiseOR(shiftleft(v, 2))).bitwiseAND(lit(0x3333333333333333L))
    v.bitwiseOR(shiftleft(v, 1)).bitwiseAND(lit(0x5555555555555555L))
  }

  /** 2-D Morton (Z-order) key of two NON-NEGATIVE integer columns
    * (callers map their domain onto [0, 2^31) first — e.g. epoch
    * seconds, dictionary ranks, bucketed doubles). */
  def zOrder2(a: Column, b: Column): Column =
    spreadBits(a).bitwiseOR(shiftleft(spreadBits(b), 1))

  /** Write `df` as parquet clustered on the Z-order of two columns:
    * min/max-normalize both dimensions onto [0, 2^20) — WITHOUT this,
    * the wider-domain column dominates the curve's high bits and the
    * layout degenerates to a plain sort on it — then range-partition
    * on the Morton key into `numFiles` ranges, sort within each, drop
    * the key. Filters on EITHER column then prune most files via
    * footer min/max, where a single-column sort only helps that one
    * column. Cost: one tiny min/max agg job + the same single shuffle
    * a sorted write pays anyway. */
  def writeZOrdered(df: DataFrame, path: String,
      colA: String, colB: String, numFiles: Int): Unit = {
    val r = df.agg(
      min(col(colA)).cast("double"), max(col(colA)).cast("double"),
      min(col(colB)).cast("double"), max(col(colB)).cast("double")).head()
    def norm(c: Column, lo: Double, hi: Double): Column =
      ((c.cast("double") - lo) / math.max(hi - lo, 1e-300)
        * ((1 << 20) - 1)).cast("long")
    GraftSession.write(df.withColumn("__z", zOrder2(
        norm(col(colA), r.getDouble(0), r.getDouble(1)),
        norm(col(colB), r.getDouble(2), r.getDouble(3))))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")).mode("overwrite").parquet(path)
  }

  /** Write `df` range-clustered on `clusterCol` into ~`numFiles`
    * parquet files AND record an explicit zone map (per-file min/max
    * of the cluster column) under `path/_zonemap` — the data-skipping
    * manifest pattern (Delta/Iceberg file stats): a range predicate
    * consults the manifest and opens only overlapping files, skipping
    * even the footer reads a parquet row-group filter still pays. The
    * `_`-prefixed manifest dir is invisible to plain readers of
    * `path`. Cost: the same single range shuffle a sorted write pays,
    * plus one file-grain aggregation over the written data. */
  def writeZoneMapped(df: DataFrame, path: String, clusterCol: String,
      numFiles: Int): Unit = {
    writeClustered(df, path, clusterCol, numFiles, "overwrite")
    val spark = df.sparkSession
    val written = listDataFiles(spark, path).toSeq
    commitManifest(spark, written, clusterCol,
      df.schema(clusterCol).dataType, s"$path/_zonemap_v/1")
    republishManifest(spark, path, 1L)
  }

  /** Committed manifest versions of a zone-mapped dataset, ascending
    * (1 = the initial [[writeZoneMapped]]; each [[appendZoneMapped]]
    * adds one). A filesystem listing — metadata-scale. */
  def zoneMapVersions(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[Long] = {
    val vRoot = new org.apache.hadoop.fs.Path(s"$path/_zonemap_v")
    val fs = vRoot.getFileSystem(GraftSession.hadoopConf(spark))
    if (!fs.exists(vRoot)) Seq.empty
    else fs.listStatus(vRoot).filter(_.isDirectory)
      .flatMap(d => scala.util.Try(d.getPath.getName.toLong).toOption)
      .sorted.toSeq
  }

  /** TIME-TRAVEL read: the dataset exactly as of manifest `version`.
    * The layout is append-only (appends — and [[compactZoneMapped]] —
    * land NEW files and commit a new manifest version; committed
    * files are never rewritten), so the version's file list IS the
    * snapshot — reading those files reproduces the table as
    * committed then, regardless of what was appended since.
    * Metadata-scale: one small manifest read, then a plain parquet
    * scan of the listed files (all pushdowns apply). Versions
    * dropped by [[vacuumZoneMapped]] refuse LOUDLY (never a silent
    * wrong answer): a missing manifest or a manifest whose files
    * were physically removed both raise a pointed error naming the
    * retention horizon. */
  def readZoneMappedAsOf(spark: org.apache.spark.sql.SparkSession,
      path: String, version: Long): DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(GraftSession.hadoopConf(spark))
    val vDir = new org.apache.hadoop.fs.Path(s"$path/_zonemap_v/$version")
    if (!fs.exists(vDir)) {
      val retained = zoneMapVersions(spark, path)
      throw new IllegalStateException(
        s"time-travel read of $path as of version $version: that " +
          s"version is past the retention horizon (vacuumed); retained " +
          s"versions: ${if (retained.isEmpty) "none" else retained.mkString(", ")}")
    }
    val files = manifestFiles(spark, vDir.toString)
    val missing = files.filterNot(f =>
      fs.exists(new org.apache.hadoop.fs.Path(new java.net.URI(f))))
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"time-travel read of $path as of version $version: " +
          s"${missing.length} of ${files.length} snapshot files were " +
          "physically removed (vacuumed or externally deleted) — run " +
          "against the current table or a retained version " +
          s"(${zoneMapVersions(spark, path).mkString(", ")})")
    Tables.readParquet(spark, files)
  }

  /** [[readZonePruned]] against a historical manifest version: zone
    * pruning AND time travel compose — only the snapshot's files
    * whose [min, max] overlaps [lo, hi] are opened. */
  def readZonePrunedAsOf(spark: org.apache.spark.sql.SparkSession,
      path: String, version: Long, lo: Column, hi: Column): DataFrame = {
    val files = prunedFiles(spark, s"$path/_zonemap_v/$version", lo, hi)
    prunedRead(spark, path, files)
  }

  /** Scan of `path` pruned by the zone map: only files whose
    * [min, max] overlaps [lo, hi] are opened (the residual per-row
    * predicate remains the caller's job — zone maps bound files, not
    * rows). The manifest read + overlap filter is metadata-scale (one
    * row per file); the returned scan is a plain pruned parquet read,
    * so every downstream pushdown still applies. Returns an empty
    * frame of the right schema when nothing overlaps. */
  def readZonePruned(spark: org.apache.spark.sql.SparkSession,
      path: String, lo: Column, hi: Column): DataFrame = {
    val files = prunedFiles(spark, s"$path/_zonemap", lo, hi)
    prunedRead(spark, path, files)
  }

  /** Append a batch to a zone-mapped dataset and maintain the
    * manifest INCREMENTALLY: the batch lands range-clustered as new
    * files, per-file stats are computed from ONLY those files, and
    * the manifest becomes old ∪ new (manifest rows are metadata-scale
    * — one per file — so the swap materializes driver-side, like
    * every table-format metadata commit). Batches cluster internally;
    * cross-batch ranges may overlap — pruning stays CORRECT (the
    * overlap test is per file), merely less selective until a
    * compaction re-clusters. */
  def appendZoneMapped(df: DataFrame, path: String, clusterCol: String,
      numFiles: Int): Unit = {
    val spark = df.sparkSession
    val before = listDataFiles(spark, path)
    writeClustered(df, path, clusterCol, numFiles, "append")
    val added = (listDataFiles(spark, path) -- before).toSeq
    // an empty delta can legitimately commit zero part files — a
    // no-op append must not fail the job (and has no manifest delta)
    if (added.isEmpty) return
    // A dataset written before versioning existed has a _zonemap but
    // no _zonemap_v: backfill ITS manifest as version 1 first — an
    // exact filesystem copy, so readZoneMappedAsOf(path, 1) means
    // "as first written", not "after this append".
    if (zoneMapVersions(spark, path).isEmpty)
      copyManifestDir(spark, s"$path/_zonemap", s"$path/_zonemap_v/1")
    val next = zoneMapVersions(spark, path).last + 1
    // Commit the snapshot manifest first (a NEW path — old ∪ new),
    // then republish the current-table pointer as a filesystem copy
    // of the committed version — a metadata op, not a second query.
    commitAppended(spark, path, added, clusterCol,
      df.schema(clusterCol).dataType, s"$path/_zonemap_v/$next")
    republishManifest(spark, path, next)
  }

  /** Commit old ∪ new-file stats as a manifest version: driver-side
    * (old manifest rows read on the driver, new stats from footers,
    * one parquet file written — zero Spark jobs) when everything is
    * metadata-scale and footer-exact, the old distributed
    * read+union+write otherwise. The manifest stays one row per data
    * file either way — at millions of files the [[ManifestIo]] size
    * bound trips and the Spark path takes over. */
  private def commitAppended(spark: org.apache.spark.sql.SparkSession,
      path: String, added: Seq[String], clusterCol: String,
      clusterType: org.apache.spark.sql.types.DataType,
      dest: String): Unit = {
    val conf = GraftSession.hadoopConf(spark)
    val done = (for {
      schema <- ManifestIo.manifestSchema(clusterType)
      newRows <- footerStats(spark, added, clusterCol, clusterType)
      oldRows <- ManifestIo.readRows(conf, s"$path/_zonemap")
      merged <- scala.util.Try(oldRows.map(r => (
          r("file").asInstanceOf[String],
          r.getOrElse("min_v", null), r.getOrElse("max_v", null),
          r("n_rows").asInstanceOf[Long])) ++ newRows).toOption
    } yield scala.util.Try(
      ManifestIo.writeZoneRows(conf, dest, schema, merged)).isSuccess)
      .getOrElse(false)
    if (!done) {
      val newStats = Tables.readParquet(spark, added)
        .groupBy(input_file_name().as("file"))
        .agg(min(col(clusterCol)).as("min_v"),
          max(col(clusterCol)).as("max_v"),
          count(lit(1)).as("n_rows"))
      writeOneFile(spark.read.parquet(s"$path/_zonemap").unionByName(newStats), dest)
    }
  }

  /** Write `df` with a FILE-MEMBERSHIP sketch on `keyCol` — the
    * point-lookup complement of the zone map's range pruning: the
    * manifest records, per file, the SET of 16-bit hash slots its
    * keys occupy (`pmod(xxhash64(key), 65536)`), so an equality probe
    * opens only files whose slot set contains the probe's slot. No
    * false negatives (every key sets its slot); false positives are
    * hash collisions (~n_distinct/65536 per file), which the caller's
    * exact residual predicate absorbs. Unlike the zone map this needs
    * NO clustering — it prunes even a layout ordered for some other
    * column. Manifest size: ≤ min(distinct keys, 65536) ints per
    * file. */
  def writeMemberMapped(df: DataFrame, path: String, keyCol: String,
      numFiles: Int): Unit = {
    GraftSession.write(df.repartition(numFiles)).mode("overwrite").parquet(path)
    val spark = df.sparkSession
    writeOneFile(Tables.readParquet(spark, Seq(path))
      .groupBy(input_file_name().as("file"))
      // hash the STRING rendering: xxhash64 is type-sensitive, and a
      // probe literal of a different width (int vs long) would
      // silently prune the wrong files — a false NEGATIVE
      .agg(sort_array(collect_set(
          pmod(xxhash64(col(keyCol).cast("string")), lit(65536L))))
          .as("slots"),
        count(lit(1)).as("n_rows")), s"$path/_memmap")
  }

  /** Scan of `path` pruned by the membership sketch: only files whose
    * slot set contains `value`'s hash slot are opened (the exact
    * equality predicate remains the caller's job — collisions pass
    * the sketch). Metadata-scale manifest probe, then a plain pruned
    * parquet read. */
  def readMemberPruned(spark: org.apache.spark.sql.SparkSession,
      path: String, value: Column): DataFrame = {
    // the probe's slot, computed on the driver THROUGH the same
    // catalyst expression the manifest hashed with (literal probes
    // only — exact parity by construction); non-literal probes and
    // unreadable manifests take the Spark filter
    val driverFiles = for {
      slot <- memberSlotOf(value)
      rows <- ManifestIo.readRows(
        GraftSession.hadoopConf(spark), s"$path/_memmap")
      files <- scala.util.Try(rows.collect {
        case r if r.get("slots").exists(
            _.asInstanceOf[Seq[Long]].contains(slot)) =>
          r("file").asInstanceOf[String]
      }).toOption
    } yield files
    val files = driverFiles.getOrElse {
      spark.read.parquet(s"$path/_memmap")
        .where(array_contains(col("slots"),
          pmod(xxhash64(value.cast("string")), lit(65536L))))
        .select("file").collect().map(_.getString(0)).toSeq
    }
    prunedRead(spark, path, files)
  }

  /** Small-file compaction: rewrite a parquet directory into
    * ~`targetBytes`-sized files. The file-count decision reads ONLY
    * filesystem metadata (listing sizes — a driver-side metadata walk,
    * no data read); the rewrite itself is one scan + shuffle-free
    * coalesce when shrinking the file count (the normal case), or a
    * round-robin repartition when growing it. The streaming-ingest
    * companion: micro-batches land thousands of KB-sized files whose
    * per-file open/footer cost dominates scans until compacted. */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
      targetBytes: Long): Int = {
    require(targetBytes > 0, "targetBytes must be positive")
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(GraftSession.hadoopConf(spark))
    val entries = fs.listStatus(hPath)
    // A partitioned layout (key=value subdirs) would be silently
    // flattened by a read+rewrite — refuse it; compact leaf dirs.
    // Hidden/metadata dirs (_temporary from a crashed write, .crc
    // dirs) are not partition layout — ignore them like the .parquet
    // file filter below ignores non-data files.
    require(!entries.exists(e => e.isDirectory && {
        val n = e.getPath.getName
        !n.startsWith("_") && !n.startsWith(".")
      }),
      s"compact() rewrites FLAT parquet dirs only; $path contains " +
        "subdirectories (partitioned layout) — compact each leaf instead")
    val files = entries
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    val totalBytes = files.map(_.getLen).sum
    val nFiles = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    val df = Tables.readParquet(spark, Seq(path))
    val out = if (nFiles <= files.length) df.coalesce(nFiles)
      else df.repartition(nFiles)
    // Write beside, then swap via rename-aside: the published path is
    // replaced by two renames, so a crash at any point leaves either
    // the old or the new data recoverable on disk (never only a
    // half-deleted dir, as delete-then-rename would).
    val tmp = new org.apache.hadoop.fs.Path(
      path.stripSuffix("/") + "__compacting")
    val aside = new org.apache.hadoop.fs.Path(
      path.stripSuffix("/") + "__precompact")
    GraftSession.write(out).mode("overwrite").parquet(tmp.toString)
    if (fs.exists(aside)) fs.delete(aside, true)
    if (!fs.rename(hPath, aside))
      throw new java.io.IOException(s"compact: could not move $hPath aside")
    if (!fs.rename(tmp, hPath)) {
      fs.rename(aside, hPath) // roll back so the path never stays absent
      fs.delete(tmp, true) // don't leave the temp dir behind on rollback
      throw new java.io.IOException(s"compact: could not publish $tmp")
    }
    fs.delete(aside, true)
    nFiles
  }

  /** Small-file compaction for a ZONE-MAPPED dataset, version-aware
    * (the Delta OPTIMIZE model): the current snapshot's rows are
    * rewritten re-clustered as NEW files committed as a NEW manifest
    * version — previously committed files are NOT touched, so every
    * retained time-travel version stays readable until
    * [[vacuumZoneMapped]] reclaims it. Contrast [[compact]], which
    * rewrites a plain directory in place and therefore cannot
    * preserve history. Cost: one pruned scan + the range shuffle a
    * clustered write always pays; superseded files are reclaimed by
    * vacuum, not here. */
  def compactZoneMapped(spark: org.apache.spark.sql.SparkSession,
      path: String, clusterCol: String, numFiles: Int): Long = {
    val current = manifestFiles(spark, s"$path/_zonemap")
    val before = listDataFiles(spark, path)
    val currentDf = Tables.readParquet(spark, current)
    writeClustered(currentDf, path, clusterCol, numFiles, "append")
    val added = (listDataFiles(spark, path) -- before).toSeq
    if (zoneMapVersions(spark, path).isEmpty)
      copyManifestDir(spark, s"$path/_zonemap", s"$path/_zonemap_v/1")
    val next = zoneMapVersions(spark, path).last + 1
    commitManifest(spark, added, clusterCol,
      currentDf.schema(clusterCol).dataType, s"$path/_zonemap_v/$next")
    republishManifest(spark, path, next)
    next
  }

  /** RETENTION (Delta VACUUM semantics): keep the newest `keepLast`
    * manifest versions, drop every older version's manifest, and
    * physically delete data files referenced ONLY by dropped
    * versions. After vacuum, [[readZoneMappedAsOf]] on a dropped
    * version fails with a pointed error naming the retained horizon
    * — never a silent wrong answer. Metadata-scale: manifests are
    * one row per file; the delete set is computed as (all committed
    * files) minus (files referenced by any retained version).
    * Returns the number of data files deleted. */
  def vacuumZoneMapped(spark: org.apache.spark.sql.SparkSession,
      path: String, keepLast: Int): Int = {
    require(keepLast >= 1, "vacuum must retain at least one version")
    val versions = zoneMapVersions(spark, path)
    if (versions.size <= keepLast) return 0
    val (dropped, retained) = versions.splitAt(versions.size - keepLast)
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(GraftSession.hadoopConf(spark))
    // per-version driver-side manifest reads (Spark fallback inside)
    // — manifests are one row per file, metadata-scale
    def filesOf(vs: Seq[Long]): Set[String] =
      vs.flatMap(v => manifestFiles(spark, s"$path/_zonemap_v/$v")).toSet
    val keep = filesOf(retained)
    val dead = filesOf(dropped) -- keep
    var deleted = 0
    dead.foreach { f =>
      val p = new org.apache.hadoop.fs.Path(new java.net.URI(f))
      if (fs.delete(p, false)) deleted += 1
    }
    dropped.foreach { v =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/_zonemap_v/$v"), true)
    }
    deleted
  }
}
