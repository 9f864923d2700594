package graft

import org.apache.spark.sql.functions._

import graft.etl.Layout
import org.apache.spark.unsafe.types.UTF8String

class LayoutSpec extends SparkSpec {
  import spark.implicits._

  test("zOrder2 interleaves bits (known values) and is monotone in both dims") {
    val r = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L), (2L, 2L), (3L, 5L))
      .toDF("a", "b")
      .select(Layout.zOrder2($"a", $"b").as("z")).collect().map(_.getLong(0))
    // interleave(a even bits, b odd bits): (1,0)->1, (0,1)->2, (1,1)->3,
    // (2,2)->12, (3,5)->39 (a=11, b=101 -> 1 0 0 1 1 1 = 39)
    assert(r.toSeq == Seq(0L, 1L, 2L, 3L, 12L, 39L))
  }

  /** avg per-file width of `c`'s [min,max] across parquet files. */
  private def avgFileWidth(path: String, c: String): Double = {
    val perFile = spark.read.parquet(path)
      .groupBy(input_file_name())
      .agg((max(col(c)) - min(col(c))).cast("double").as("w"))
    perFile.agg(avg($"w")).head().getDouble(0)
  }

  test("Z-order layout tightens per-file min/max on BOTH dims; time-sort only on one") {
    val ev = graft.etl.Tables.table(spark, "/root/testdata/sf0.001", "events")
      .select($"event_id", $"user_id", unix_seconds($"ts").as("t"))
    val base = java.nio.file.Files.createTempDirectory("zorder").toString
    // layout 1: sorted by time only (the default telemetry layout)
    ev.repartitionByRange(8, $"t").sortWithinPartitions("t")
      .write.mode("overwrite").parquet(s"$base/bytime")
    // layout 2: z-ordered on (user_id, t) — writeZOrdered normalizes
    // both domains, so raw columns are fine
    Layout.writeZOrdered(ev, s"$base/zorder", "user_id", "t", numFiles = 16)

    val globalUserWidth = ev.agg((max($"user_id") - min($"user_id"))
      .cast("double")).head().getDouble(0)
    val byTimeUser = avgFileWidth(s"$base/bytime", "user_id")
    val zUser = avgFileWidth(s"$base/zorder", "user_id")
    // time-sorted files span ~the whole user domain (no pruning on
    // user_id); z-ordered files must be materially tighter
    assert(byTimeUser > 0.9 * globalUserWidth,
      s"time-sorted layout unexpectedly clustered users ($byTimeUser)")
    assert(zUser < 0.5 * globalUserWidth,
      s"z-order user width $zUser not < half of $globalUserWidth")
    // and the z-layout keeps time locality well under the full span too
    val globalTWidth = ev.agg((max($"t") - min($"t")).cast("double"))
      .head().getDouble(0)
    assert(avgFileWidth(s"$base/zorder", "t") < 0.8 * globalTWidth)
  }

  test("compact rewrites a many-small-file directory into few files, same rows") {
    val dir = java.nio.file.Files.createTempDirectory("compact").toString + "/t"
    val df = (1L to 10000L).toDF("id")
      .withColumn("payload", concat_ws("-", lit("row"), col("id")))
    df.repartition(40).write.parquet(dir)
    def parquetFiles = new java.io.File(dir).listFiles
      .count(_.getName.endsWith(".parquet"))
    assert(parquetFiles == 40)
    val n = Layout.compact(spark, dir, targetBytes = 512L * 1024 * 1024)
    assert(n == 1 && parquetFiles == 1)
    val back = spark.read.parquet(dir)
    assert(back.count() == 10000
      && back.agg(sum("id")).head().getLong(0) == 10000L * 10001 / 2)
  }

  test("compact tolerates a leftover _temporary dir from a crashed write") {
    val dir = java.nio.file.Files.createTempDirectory("compactt").toString + "/t"
    (1L to 1000L).toDF("id").repartition(8).write.parquet(dir)
    // simulate a previously crashed Spark write leaving _temporary behind
    assert(new java.io.File(dir, "_temporary/0").mkdirs())
    val n = Layout.compact(spark, dir, targetBytes = 512L * 1024 * 1024)
    assert(n == 1 && spark.read.parquet(dir).count() == 1000)
  }

  test("compact refuses a partitioned (subdirectory) layout") {
    val dir = java.nio.file.Files.createTempDirectory("compactp").toString + "/t"
    (1L to 100L).toDF("id").withColumn("p", col("id") % 2)
      .write.partitionBy("p").parquet(dir)
    val e = intercept[IllegalArgumentException] {
      Layout.compact(spark, dir, targetBytes = 512L * 1024 * 1024)
    }
    assert(e.getMessage.contains("FLAT"))
    // the refused dataset is untouched
    assert(spark.read.parquet(dir).count() == 100)
  }

  test("zone map prunes non-overlapping files; pruned scan equals the full filter") {
    val dir = graft.etl.Scratch.dir("zonemap")
    val df = (1 to 10000).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    Layout.writeZoneMapped(df, dir, "k", numFiles = 8)
    val zm = spark.read.parquet(s"$dir/_zonemap")
    assert(zm.count() == 8 &&
      zm.agg(sum("n_rows")).head().getLong(0) == 10000L)
    // a narrow range must open a strict subset of files
    val pruned = Layout.readZonePruned(spark, dir, lit(2000L), lit(2100L))
    val opened = pruned.select(input_file_name()).distinct().count()
    assert(opened < 8, s"expected pruning, opened $opened of 8 files")
    val got = pruned.where(col("k").between(2000, 2100))
      .select("k").collect().map(_.getLong(0)).sorted
    assert(got.toSeq == (2000L to 2100L))
    // a miss range yields an empty, correctly-typed frame
    val none = Layout.readZonePruned(spark, dir, lit(90000L), lit(99000L))
    assert(none.schema == pruned.schema && none.count() == 0)
    // plain readers of the data dir do not see the manifest
    assert(spark.read.parquet(dir).count() == 10000)
    graft.etl.Scratch.remove(dir)
  }

  test("appendZoneMapped extends the manifest from only the new files") {
    val dir = graft.etl.Scratch.dir("zonemapapp")
    val lo = (1 to 5000).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    val hi = (5001 to 10000).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    Layout.writeZoneMapped(lo, dir, "k", numFiles = 4)
    Layout.appendZoneMapped(hi, dir, "k", numFiles = 4)
    val zm = spark.read.parquet(s"$dir/_zonemap")
    assert(zm.count() == 8 &&
      zm.agg(sum("n_rows")).head().getLong(0) == 10000L)
    // a range inside the APPENDED half is pruned and complete
    val pruned = Layout.readZonePruned(spark, dir, lit(7000L), lit(7100L))
    assert(pruned.select(input_file_name()).distinct().count() < 8)
    assert(pruned.where(col("k").between(7000, 7100)).count() == 101)
    // the full dataset is intact
    assert(spark.read.parquet(dir).count() == 10000)
    // an EMPTY delta is a legitimate no-op, not a failure, and
    // leaves the manifest untouched
    Layout.appendZoneMapped(hi.where(col("k") < 0), dir, "k", numFiles = 4)
    assert(spark.read.parquet(s"$dir/_zonemap")
      .agg(sum("n_rows")).head().getLong(0) == 10000L)
    graft.etl.Scratch.remove(dir)
  }

  test("time travel: each manifest version reproduces its snapshot exactly") {
    val dir = graft.etl.Scratch.dir("tt")
    val lo = (1 to 5000).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    val hi = (5001 to 8000).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    Layout.writeZoneMapped(lo, dir, "k", numFiles = 4)
    Layout.appendZoneMapped(hi, dir, "k", numFiles = 4)
    assert(Layout.zoneMapVersions(spark, dir) == Seq(1L, 2L))
    val v1 = Layout.readZoneMappedAsOf(spark, dir, 1L)
    assert(v1.count() == 5000 && v1.agg(max("k")).head().getLong(0) == 5000L)
    assert(Layout.readZoneMappedAsOf(spark, dir, 2L).count() == 8000)
    // pruned time travel composes: a range inside the appended half
    // is EMPTY as of v1, complete as of v2
    assert(Layout.readZonePrunedAsOf(spark, dir, 1L, lit(6000L), lit(6100L))
      .where(col("k").between(6000, 6100)).count() == 0)
    assert(Layout.readZonePrunedAsOf(spark, dir, 2L, lit(6000L), lit(6100L))
      .where(col("k").between(6000, 6100)).count() == 101)
    graft.etl.Scratch.remove(dir)
  }

  test("zone-mapped reads take the schema Spark infers, at both versions") {
    val dir = graft.etl.Scratch.dir("schema")
    val lo = (1 to 3000).map(i => (i.toLong, s"v$i", i * 0.5)).toDF("k", "v", "d")
    val hi = (3001 to 5000).map(i => (i.toLong, s"v$i", i * 0.5)).toDF("k", "v", "d")
    Layout.writeZoneMapped(lo, dir, "k", numFiles = 4)
    Layout.appendZoneMapped(hi, dir, "k", numFiles = 4)
    for (v <- Seq(1L, 2L)) {
      val asOf = Layout.readZoneMappedAsOf(spark, dir, v)
      val files = asOf.inputFiles.toSeq
      assert(files.size == 4 * v)
      val inferred = spark.read.parquet(files: _*).schema
      assert(asOf.schema == inferred)
      assert(graft.etl.Tables.footerSchema(spark, files).contains(inferred))
      assert(Layout.readZonePrunedAsOf(spark, dir, v, lit(10L), lit(20L)).schema == inferred)
    }
    // the dataset root: manifest dirs, _SUCCESS and .crc files skipped
    val root = spark.read.parquet(dir).schema
    assert(graft.etl.Tables.footerSchema(spark, Seq(dir)).contains(root))
    val none = Layout.readZonePruned(spark, dir, lit(-10L), lit(-5L))
    assert(none.schema == root && none.count() == 0)
    graft.etl.Scratch.remove(dir)
  }

  test("compactZoneMapped preserves history; vacuum reclaims it and refuses loudly") {
    val dir = graft.etl.Scratch.dir("vac")
    val p1 = (1 to 3000).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    val p2 = (3001 to 6000).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    val p3 = (6001 to 9000).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    Layout.writeZoneMapped(p1, dir, "k", numFiles = 4) // v1
    Layout.appendZoneMapped(p2, dir, "k", numFiles = 4) // v2
    Layout.appendZoneMapped(p3, dir, "k", numFiles = 4) // v3
    // version-aware compaction: new files, NEW version, old snapshots intact
    val v4 = Layout.compactZoneMapped(spark, dir, "k", numFiles = 3)
    assert(v4 == 4L)
    assert(Layout.zoneMapVersions(spark, dir) == Seq(1L, 2L, 3L, 4L))
    assert(spark.read.parquet(s"$dir/_zonemap").count() == 3) // re-clustered
    assert(Layout.readZoneMappedAsOf(spark, dir, 4L).count() == 9000)
    // pre-compaction snapshots STILL readable (files not rewritten)
    assert(Layout.readZoneMappedAsOf(spark, dir, 1L).count() == 3000)
    assert(Layout.readZoneMappedAsOf(spark, dir, 3L).count() == 9000)
    // vacuum keep-2: versions 1 and 2 dropped — but v3 (retained)
    // still references every pre-compaction file, so NOTHING is
    // physically deleted yet (no retained snapshot may break)
    assert(Layout.vacuumZoneMapped(spark, dir, keepLast = 2) == 0)
    assert(Layout.zoneMapVersions(spark, dir) == Seq(3L, 4L))
    // retained versions unharmed, byte-complete
    assert(Layout.readZoneMappedAsOf(spark, dir, 3L)
      .agg(sum("k")).head().getLong(0) == (1L to 9000L).sum)
    assert(Layout.readZoneMappedAsOf(spark, dir, 4L).count() == 9000)
    // pre-horizon read fails with a POINTED error, never a wrong answer
    val e = intercept[IllegalStateException] {
      Layout.readZoneMappedAsOf(spark, dir, 1L)
    }
    assert(e.getMessage.contains("retention horizon") &&
      e.getMessage.contains("3, 4"), e.getMessage)
    // vacuum keep-1: the last pre-compaction snapshot goes, and with
    // it the superseded files are physically reclaimed
    val deleted = Layout.vacuumZoneMapped(spark, dir, keepLast = 1)
    assert(deleted > 0, "vacuum reclaimed nothing after dropping v3")
    assert(Layout.zoneMapVersions(spark, dir) == Seq(4L))
    assert(Layout.readZoneMappedAsOf(spark, dir, 4L)
      .agg(sum("k")).head().getLong(0) == (1L to 9000L).sum)
    intercept[IllegalStateException] {
      Layout.readZoneMappedAsOf(spark, dir, 3L)
    }
    // vacuum below the floor is a no-op; keepLast must be >= 1
    assert(Layout.vacuumZoneMapped(spark, dir, keepLast = 5) == 0)
    intercept[IllegalArgumentException] {
      Layout.vacuumZoneMapped(spark, dir, keepLast = 0)
    }
    graft.etl.Scratch.remove(dir)
  }

  test("appendZoneMapped backfills version 1 for a pre-versioning dataset") {
    val dir = graft.etl.Scratch.dir("backfill")
    val lo = (1 to 2000).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    Layout.writeZoneMapped(lo, dir, "k", numFiles = 2)
    // simulate a dataset written before versioning: no _zonemap_v
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/_zonemap_v"), true)
    assert(Layout.zoneMapVersions(spark, dir).isEmpty)
    Layout.appendZoneMapped((2001 to 3000).map(i => (i.toLong, s"v$i"))
      .toDF("k", "v"), dir, "k", numFiles = 2)
    // version 1 is the ORIGINAL snapshot, version 2 the appended table
    assert(Layout.zoneMapVersions(spark, dir) == Seq(1L, 2L))
    assert(Layout.readZoneMappedAsOf(spark, dir, 1L).count() == 2000)
    assert(Layout.readZoneMappedAsOf(spark, dir, 2L).count() == 3000)
    graft.etl.Scratch.remove(dir)
  }

  test("footer-stats manifest equals the scan-derived manifest, and " +
      "ineligible cluster types fall back to the scan") {
    // LONG cluster column → the commit collects stats from parquet
    // footers driver-side; the manifest must be value-identical to
    // what the distributed scan would compute (this is the exactness
    // claim footer stats rest on for integral physical types)
    val dir = graft.etl.Scratch.dir("zmfooter")
    val df = (1 to 10000).map(i =>
      ((i * 37 % 10007).toLong, s"v$i")).toDF("k", "v")
    Layout.writeZoneMapped(df, dir, "k", numFiles = 8)
    val manifest = spark.read.parquet(s"$dir/_zonemap")
      .orderBy("file").collect()
    val rescan = spark.read.parquet(dir)
      .groupBy(input_file_name().as("file"))
      .agg(min(col("k")).as("min_v"), max(col("k")).as("max_v"),
        count(lit(1)).as("n_rows"))
      .orderBy("file").collect()
    assert(manifest.length == rescan.length)
    manifest.zip(rescan).foreach { case (m, s) =>
      // file strings may differ in URI rendering (file:/ vs file:///)
      // between the footer and input_file_name paths; compare the
      // resolved path and the stats values
      assert(new java.net.URI(m.getString(0)).getPath ==
        new java.net.URI(s.getString(0)).getPath)
      assert(m.getLong(1) == s.getLong(1) && m.getLong(2) == s.getLong(2)
        && m.getLong(3) == s.getLong(3))
    }
    // the current-table manifest is an exact copy of version 1
    val v1 = spark.read.parquet(s"$dir/_zonemap_v/1").orderBy("file").collect()
    assert(manifest.sameElements(v1))
    graft.etl.Scratch.remove(dir)

    // STRING cluster column → binary footer stats may be truncated,
    // so the commit must take the scan path — and still be exact
    val sdir = graft.etl.Scratch.dir("zmfooterstr")
    val sdf = (1 to 2000).map(i => (f"k$i%05d", i)).toDF("k", "n")
    Layout.writeZoneMapped(sdf, sdir, "k", numFiles = 4)
    val szm = spark.read.parquet(s"$sdir/_zonemap")
    assert(szm.agg(sum("n_rows")).head().getLong(0) == 2000L)
    assert(szm.agg(min("min_v"), max("max_v")).head() match {
      case r => r.getString(0) == "k00001" && r.getString(1) == "k02000"
    })
    val sPruned = Layout.readZonePruned(spark, sdir, lit("k00500"), lit("k00600"))
      .where(col("k").between("k00500", "k00600"))
    assert(sPruned.count() == 101)
    graft.etl.Scratch.remove(sdir)
  }

  test("driver-side manifest probes equal the Spark-filter paths (r16)") {
    // the r16 manifest-probe optimization: reads/commits run on the
    // driver (zero Spark jobs); this pins (a) the driver-written
    // manifest is plain parquet Spark reads identically, (b) the
    // driver-side literal-bound pruning opens the same file set as
    // the Spark predicate, (c) a NON-literal bound takes the Spark
    // fallback and still answers identically
    val dir = graft.etl.Scratch.dir("zmdriver")
    val df = (1 to 8000).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    Layout.writeZoneMapped(df, dir, "k", numFiles = 8)
    Layout.appendZoneMapped(
      (8001 to 9000).map(i => (i.toLong, s"v$i")).toDF("k", "v"),
      dir, "k", numFiles = 2)
    // (a) Spark reads the driver-committed manifest
    val zm = spark.read.parquet(s"$dir/_zonemap").collect()
    assert(zm.length == 10 && zm.map(_.getLong(3)).sum == 9000L)
    // (b) literal pruning == the Spark where() on the manifest
    val viaDriver = Layout.readZonePruned(spark, dir, lit(4000L), lit(8200L))
      .select(input_file_name()).distinct().collect()
      .map(r => new java.net.URI(r.getString(0)).getPath).sorted
    val viaSpark = spark.read.parquet(s"$dir/_zonemap")
      .where(col("max_v") >= lit(4000L) && col("min_v") <= lit(8200L))
      .select("file").collect()
      .map(r => new java.net.URI(r.getString(0)).getPath).sorted
    assert(viaDriver.toSeq == viaSpark.toSeq && viaDriver.length < 10)
    // (c) a non-literal bound (column expression) falls back and is
    // row-identical to the literal form
    val nonLit = Layout.readZonePruned(spark, dir,
        lit(2000L) + lit(2000L), lit(8200L))
      .where(col("k").between(4000L, 8200L)).count()
    assert(nonLit == Layout.readZonePruned(spark, dir, lit(4000L), lit(8200L))
      .where(col("k").between(4000L, 8200L)).count())
    graft.etl.Scratch.remove(dir)

    // (d) string keys: in Spark's UTF-8 byte order U+E000–U+FFFF sort
    // before supplementary-plane characters such as U+1F600, in UTF-16
    // order after them — the driver-side probe must follow Spark's order
    val sdir = graft.etl.Scratch.dir("zmdriverstr")
    val prefixes = Seq("\uE000", "\uFFEE", "\uD83D\uDE00", "\uD83D\uDE00\uE000")
    val skeys = for (p <- prefixes; i <- 1 to 500) yield f"$p$i%04d"
    Layout.writeZoneMapped(skeys.map(k => (k, k.length)).toDF("k", "n"),
      sdir, "k", numFiles = 8)
    def filesVia(lo: String, hi: String): (Seq[String], Seq[String]) = {
      val driver = Layout.readZonePruned(spark, sdir, lit(lo), lit(hi))
        .select(input_file_name()).distinct().collect()
        .map(r => new java.net.URI(r.getString(0)).getPath).sorted.toSeq
      val filtered = spark.read.parquet(s"$sdir/_zonemap")
        .where(col("max_v") >= lit(lo) && col("min_v") <= lit(hi))
        .select("file").collect()
        .map(r => new java.net.URI(r.getString(0)).getPath).sorted.toSeq
      (driver, filtered)
    }
    for ((lo, hi) <- Seq(
        ("\uE0000250", "\uD83D\uDE000250"),
        ("\uFFEE0100", "\uD83D\uDE00\uE0000100"),
        ("\uD83D\uDE000001", "\uD83D\uDE000500"),
        ("\uE0000001", "\uFFEE0400"))) {
      val (driver, filtered) = filesVia(lo, hi)
      assert(filtered.nonEmpty && driver == filtered,
        s"[$lo, $hi]: driver $driver vs Spark $filtered")
      def utf8(x: String) = UTF8String.fromString(x)
      assert(Layout.readZonePruned(spark, sdir, lit(lo), lit(hi))
        .where(col("k").between(lo, hi)).count() == skeys.count(k =>
          utf8(k).compareTo(utf8(lo)) >= 0 && utf8(k).compareTo(utf8(hi)) <= 0))
    }
    graft.etl.Scratch.remove(sdir)
  }

  test("membership sketch: point probes open few files, never lose rows") {
    val dir = graft.etl.Scratch.dir("mm")
    // keys deliberately NOT range-clustered (hash-ish round robin),
    // so a zone map would prune nothing — the sketch must anyway
    val df = (1 to 20000).map(i => (i.toLong, s"p$i")).toDF("k", "payload")
    Layout.writeMemberMapped(df, dir, "k", numFiles = 16)
    val pruned = Layout.readMemberPruned(spark, dir, lit(42L))
    // exactness: the residual filter over the pruned scan equals the
    // direct filter over the full table
    assert(pruned.where(col("k") === 42L).count() == 1)
    // pruning: key 42 lives in ONE file; collisions may admit a
    // couple more of the 16, never most
    assert(pruned.select(input_file_name()).distinct().count() <= 4)
    // a key that never occurs opens (almost) nothing and returns
    // zero rows after the residual
    assert(Layout.readMemberPruned(spark, dir, lit(123456789L))
      .where(col("k") === 123456789L).count() == 0)
    graft.etl.Scratch.remove(dir)
  }
}
