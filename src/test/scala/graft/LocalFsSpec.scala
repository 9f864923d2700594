package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import graft.etl.{Layout, LocalFs, MaterializedAgg, WarehouseSink}
import graft.streaming.WarmRuns

/** graft's `file://` file system sets modes by syscall: an engine
  * session's storage starts no process, and every file and directory it
  * creates gets the mode Hadoop's stock local file system gives it. */
class LocalFsSpec extends SparkSpec {

  /** The `jdk.ProcessStart` events while `body` ran, as "command <-
    * frames". Left out: Spark's `rm -rf` of the artifact directory of a
    * session the garbage collector reclaimed (`ArtifactManager`'s
    * cleaner), which runs whenever a collection happens to reclaim an
    * earlier session, not because of anything `body` does. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try body finally rec.stop()
    val out = Files.createTempFile("process-starts", ".jfr")
    try {
      rec.dump(out)
      jdk.jfr.consumer.RecordingFile.readAllEvents(out).asScala.toSeq.map { e =>
        val frames = Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
          .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}")
        s"${e.getString("command")} <- ${frames.mkString(" < ")}"
      }.filterNot(_.contains("ArtifactManager$StateCleanupRunner"))
    } finally {
      rec.close()
      Files.deleteIfExists(out)
    }
  }

  test("an engine session's storage starts no process") {
    val root = Files.createTempDirectory("localfs-spawn").toString
    val c = GraftSession.child(spark)
    val was = WarmRuns.enabled
    val starts = processStarts {
      val fs = new Path(root).getFileSystem(c.sessionState.newHadoopConf())
      assert(fs.isInstanceOf[LocalFs])
      val dir = new Path(root, "a/b")
      assert(fs.mkdirs(dir))
      val f = new Path(dir, "f.bin")
      val o = fs.create(f)
      try o.write(Array[Byte](1, 2, 3)) finally o.close()
      val o2 = fs.create(f, true)
      try o2.write(Array[Byte](4, 5)) finally o2.close()
      assert(fs.rename(f, new Path(dir, "g.bin")))
      c.range(100).write.mode("overwrite").parquet(s"$root/parquet")
      assert(c.read.parquet(s"$root/parquet").count() == 100)
      // a cold streaming gate: checkpoint, state store and sink
      WarmRuns.enabled = false
      try SparkEntry.queries("q147_stream_dedup")(spark, "/root/testdata/sf0.001")
        .write.format("noop").mode("overwrite").save()
      finally WarmRuns.enabled = was
    }
    assert(starts.isEmpty, starts.mkString("\n"))
  }

  /** `body` on a new session of `spark` while the context's Hadoop conf
    * lacks the storage keys: a session graft did not build, as a user's
    * or the perfbench harness's root session is. The keys are back
    * afterwards. */
  private def onBareSession[T](body: SparkSession => T): T = {
    val hc = spark.sparkContext.hadoopConfiguration
    val keys = GraftSession.StorageConfs.map(_._1).filter(k => hc.get(k) != null)
    val saved = keys.map(k => k -> hc.get(k))
    try {
      keys.foreach(hc.unset)
      val bare = spark.newSession()
      val fs = new Path("file:///").getFileSystem(bare.sessionState.newHadoopConf())
      assert(!fs.isInstanceOf[LocalFs], "the bare session resolves the stock file system")
      body(bare)
    } finally saved.foreach { case (k, v) => hc.set(k, v) }
  }

  private def facts(s: SparkSession): DataFrame =
    s.range(0, 2000).select(col("id"), (col("id") % 7).as("k"),
      (col("id") * 3).as("v"))

  test("graft's writes start no process on a session graft did not build") {
    val root = Files.createTempDirectory("localfs-bare").toString
    val starts = onBareSession { bare =>
      val df = facts(bare)
      processStarts {
        Layout.writeZoneMapped(df.where(col("id") < 1000), s"$root/zm", "id", 4)
        Layout.appendZoneMapped(df.where(col("id") >= 1000), s"$root/zm", "id", 2)
        assert(Layout.readZonePruned(bare, s"$root/zm", lit(1500L), lit(1600L))
          .where(col("id").between(1500, 1600)).count() == 101)
        MaterializedAgg.create(df, Seq("k"), "v", s"$root/agg", nBuckets = 4)
        WarehouseSink.overwriteTable(df, "localfs_bare_sink")
      }
    }
    assert(starts.isEmpty, starts.mkString("\n"))
  }

  test("graft's partitioned and table writes read back as a plain write's rows") {
    val root = Files.createTempDirectory("localfs-roundtrip").toString
    def rows(df: DataFrame) = df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    val (agg, table) = onBareSession { bare =>
      val df = facts(bare)
      MaterializedAgg.create(df, Seq("k"), "v", s"$root/agg", nBuckets = 4)
      WarehouseSink.overwriteTable(df, "localfs_roundtrip_graft")
      (rows(spark.read.parquet(s"$root/agg")), rows(spark.table("localfs_roundtrip_graft")))
    }
    MaterializedAgg.partials(facts(spark), Seq("k"), "v", 4)
      .write.mode("overwrite").partitionBy("__bucket").parquet(s"$root/agg-plain")
    facts(spark).write.mode("overwrite").saveAsTable("localfs_roundtrip_plain")
    assert(agg.nonEmpty && agg == rows(spark.read.parquet(s"$root/agg-plain")))
    assert(table.size == 2000 && table == rows(spark.table("localfs_roundtrip_plain")))
  }

  /** Relative path -> `st_mode` permission bits (sticky included) of
    * everything under `root`. */
  private def modes(root: java.nio.file.Path): Map[String, Int] =
    Files.walk(root).iterator().asScala.filter(_ != root).map { p =>
      root.relativize(p).toString ->
        (Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0x3ff)
    }.toMap

  /** The same operations through `fs` under `root`. */
  private def exercise(fs: FileSystem, root: String): Unit = {
    fs.mkdirs(new Path(root, "d1/d2/d3"))
    fs.create(new Path(root, "new/parent/f")).close()
    fs.create(new Path(root, "d1/g"), true).close()
    fs.create(new Path(root, "d1/g"), true).close()
    fs.mkdirs(new Path(root, "explicit"), new FsPermission("750"))
    fs.create(new Path(root, "explicit/h"), new FsPermission("640"), true,
      4096, 1.toShort, 1L << 20, null).close()
    for ((name, mode) <- Seq("p600" -> "600", "p755" -> "755", "p1777" -> "1777")) {
      fs.create(new Path(root, s"$name.file")).close()
      fs.setPermission(new Path(root, s"$name.file"), new FsPermission(mode))
      fs.mkdirs(new Path(root, s"$name.dir"))
      fs.setPermission(new Path(root, s"$name.dir"), new FsPermission(mode))
    }
  }

  test("LocalFs gives every file and directory the stock file system's mode") {
    for (umask <- Seq("022", "077")) {
      val conf = new Configuration()
      conf.set("fs.permissions.umask-mode", umask)
      def run(fs: FileSystem): Map[String, Int] = {
        val root = Files.createTempDirectory(s"localfs-mode-$umask")
        try {
          fs.initialize(java.net.URI.create("file:///"), conf)
          exercise(fs, root.toString)
          modes(root)
        } finally {
          fs.close()
          Files.walk(root).sorted(java.util.Comparator.reverseOrder())
            .forEach(p => Files.delete(p))
        }
      }
      val ours = run(new LocalFs)
      val stock = run(new LocalFileSystem)
      assert(ours == stock, s"umask $umask")
      // the comparison is of real modes: umask applied, explicit ones kept
      val dflt = if (umask == "022") Seq(0x1a4, 0x1ed) else Seq(0x180, 0x1c0)
      assert(Seq(ours("new/parent/f"), ours("d1/d2/d3")) == dflt, s"umask $umask: $ours")
      assert(ours("p600.file") == 0x180 && ours("p755.dir") == 0x1ed &&
        ours("p1777.dir") == 0x3ff, s"umask $umask: $ours")
      assert(ours.keySet.exists(_.endsWith(".crc")), "checksums written")
    }
  }

  test("LocalFs maps rwx bits to NIO and reports a missing path") {
    assert(LocalFs.posix(0x1ed).asScala.map(_.toString).toSet == Set(
      "OWNER_READ", "OWNER_WRITE", "OWNER_EXECUTE", "GROUP_READ",
      "GROUP_EXECUTE", "OTHERS_READ", "OTHERS_EXECUTE"))
    assert(LocalFs.posix(0).isEmpty)
    // Hadoop's FileSystem contract: setPermission on a missing path
    // throws FileNotFoundException
    val fs = new LocalFs
    fs.initialize(java.net.URI.create("file:///"), new Configuration())
    val missing = Paths.get(Files.createTempDirectory("localfs-missing").toString, "nope")
    intercept[java.io.FileNotFoundException](
      fs.setPermission(new Path(missing.toString), new FsPermission("644")))
  }
}
