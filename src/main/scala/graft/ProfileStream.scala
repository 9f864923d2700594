package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One-off stage profiler for the cold-streaming slice (round-14 brief
  * item 1): decomposes the q262 cdc-join kill-and-resume gate — the
  * prescribed exemplar — into its phases (stage writes, each streaming
  * run, each foreachBatch body, the final read) so the family-wide fix
  * targets the real cost, not a guess. Mirrors
  * [[graft.streaming.StreamAsBatch.cdcJoinRestarted]] step for step. */
object ProfileStream {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "128m")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftExtensions.register(spark)
    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[prof] $label%-32s ${(System.nanoTime() - t0) / 1e9}%.3f s")
      r
    }
    val eventsParquet = s"$sfDir/events.parquet"

    // warm-up: run the real gate once (JIT, codegen, file caches)
    graft.streaming.WarmRuns.enabled = false
    time("warmup full q262") {
      graft.streaming.StreamAsBatch.cdcJoinRestarted(spark, eventsParquet)
        .count()
    }
    graft.etl.Checkpoints.sweep(spark); graft.etl.Scratch.sweep()

    (1 to 2).foreach { round =>
      println(s"--- cold run $round ---")
      val keyCol = "user_id"
      val orderCols = Seq("ts", "event_id")
      val s = time("newSession") {
        val s = spark.newSession()
        s.conf.set("spark.sql.shuffle.partitions", "4")
        s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        s
      }
      val stage = graft.etl.Scratch.retainedDir("prof-stage")
      val state = graft.etl.Scratch.retainedDir("prof-state")
      val ckpt = graft.etl.Scratch.retainedDir("prof-ckpt")
      val all = time("read+normalize events") {
        graft.etl.Tables.parquetFile(s, eventsParquet)
      }
      val cut = time("median cut agg") {
        all.agg(expr("percentile_approx(unix_micros(ts), 0.5)"))
          .head().getLong(0)
      }
      time("write half1") {
        all.where(unix_micros(col("ts")) <= cut)
          .write.mode("overwrite").parquet(stage)
      }
      def foreach(batch: DataFrame, id: Long, state: String): Unit = {
        val sp = batch.sparkSession
        val cdc = s"$state/cdc"
        val jn = s"$state/jn"
        if (!new java.io.File(s"$jn/J/_SUCCESS").exists()) {
          time(s"  b$id cdc create") {
            graft.etl.MaterializedCdc.create(batch, keyCol, orderCols,
              "event_type", Seq("value"), cdc, nBuckets = 8)
          }
          val dim = time(s"  b$id dim derive") {
            graft.etl.Tables.parquetFile(sp, eventsParquet)
              .groupBy(col("user_id").as("u"))
              .agg(max(col("value")).as("u_max"))
          }
          time(s"  b$id createFromCdc") {
            graft.etl.MaterializedJoin.createFromCdc(
              graft.etl.MaterializedCdc.read(sp, cdc, "event_type", "error"),
              dim, Seq(keyCol), Seq("u"), jn, nBuckets = 8)
          }
        } else {
          // inline decomposition of refreshEmit's steps
          val deltaL = time(s"  b$id rE.deltaL truncate") {
            graft.etl.Checkpoints.truncate(
              batch.groupBy(col(keyCol),
                  pmod(xxhash64(col(keyCol)), lit(8L)).as("__bucket"))
                .agg(max_by(struct(col("ts"), col("event_id"),
                    col("event_type"), col("value")),
                  struct(col("ts"), col("event_id"))).as("__last"))
                .select(col(keyCol), col("__bucket"),
                  col("__last.ts").as("ts"),
                  col("__last.event_id").as("event_id"),
                  col("__last.event_type").as("event_type"),
                  col("__last.value").as("value")))
          }
          time(s"  b$id rE.touched collect") {
            deltaL.select(col("__bucket")).distinct().collect()
          }
          graft.etl.Checkpoints.free(deltaL)
          val ups = time(s"  b$id refreshEmit") {
            graft.etl.MaterializedCdc.refreshEmit(sp, cdc, batch,
              keyCol, orderCols, "event_type", Seq("value"), nBuckets = 8)
          }
          time(s"  b$id applyUpserts") {
            graft.etl.MaterializedJoin.applyUpserts(sp, jn, ups,
              Seq(keyCol), Seq("u"), "event_type", "error", nBuckets = 8)
          }
          graft.etl.Checkpoints.free(ups)
        }
      }
      def startQ(): Unit = {
        val q = graft.streaming.EventStream.readEvents(s, stage).writeStream
          .foreachBatch { (batch: DataFrame, id: Long) =>
            foreach(batch, id, state)
          }
          .option("checkpointLocation", ckpt)
          .start()
        try q.processAllAvailable() finally q.stop()
      }
      time("run1 (stream half1)") { startQ() }
      time("write half2 append") {
        all.where(unix_micros(col("ts")) > cut)
          .write.mode("append").parquet(stage)
      }
      time("run2 (resume half2)") { startQ() }
      time("read result count") {
        graft.etl.MaterializedJoin.read(s, s"$state/jn").count()
      }
      graft.etl.Checkpoints.sweep(spark); graft.etl.Scratch.sweep()
    }
    // the real gate end-to-end (with whatever staging StreamAsBatch
    // currently ships) — the number Bench times
    (1 to 3).foreach { i =>
      time(s"FULL q262 cold #$i") {
        graft.streaming.StreamAsBatch.cdcJoinRestarted(spark, eventsParquet)
          .count()
      }
      graft.etl.Checkpoints.sweep(spark); graft.etl.Scratch.sweep()
    }
    (1 to 2).foreach { i =>
      time(s"FULL q154 cold #$i") {
        graft.streaming.StreamAsBatch.sessionWindowsRestarted(
          spark, eventsParquet, "30 minutes").count()
      }
      graft.etl.Checkpoints.sweep(spark); graft.etl.Scratch.sweep()
    }
    (1 to 2).foreach { i =>
      time(s"FULL q147 cold #$i") {
        graft.streaming.StreamAsBatch.dedupedEvents(spark, eventsParquet)
          .count()
      }
      graft.etl.Checkpoints.sweep(spark); graft.etl.Scratch.sweep()
    }
    // q167 decomposition: the two ingest epochs, phase by phase
    locally {
      val docsParquet = s"$sfDir/documents.parquet"
      time("FULL q167 cold") {
        graft.streaming.CorpusIngest.ingestRestarted(spark, docsParquet)
          .count()
      }
      graft.etl.Checkpoints.sweep(spark); graft.etl.Scratch.sweep()
      val s = spark.newSession()
      s.conf.set("spark.sql.shuffle.partitions", "8")
      val docs = s.read.parquet(docsParquet).select(col("doc_id"), col("text"))
      val corpus = graft.etl.Scratch.dir("prof-corpus")
      val index = graft.etl.Scratch.dir("prof-index")
      val cfg = graft.ops.CorpusClean.Config()
      val b0 = docs.where(col("doc_id") % 2 === 0)
      val b1 = docs.where(col("doc_id") % 2 =!= 0)
      // clean() phase decomposition on the e0 slice
      locally {
        val gated = time("    clean.gate+exact count") {
          val g = graft.ops.Dedup.dropExactDuplicates(
            graft.ops.CorpusClean.normalizeText(b0, "text", cfg),
            "doc_id", "text")
          val gg = graft.ops.CorpusClean.gate(g, "doc_id", "text",
            cfg.copy(stripMarkup = false, normalizeForm = None))
          gg.cache(); gg.count(); gg
        }
        val pairs = time("    clean.minhashNearDups count") {
          val p = graft.ops.Dedup.minhashNearDups(gated, "doc_id", "text",
            cfg.shingleSize, cfg.nearDupThreshold)
          p.cache(); println(s"[prof]     (pairs = ${p.count()})"); p
        }
        time("    clean.components+anti") {
          val comp = graft.ops.Dedup.nearDupComponents(pairs)
          val losers = comp.where(col("id") =!= col("component"))
            .select(col("id")).withColumnRenamed("id", "doc_id")
          gated.join(losers, Seq("doc_id"), "left_anti").count()
        }
        gated.unpersist(); pairs.unpersist()
      }
      val cleaned0 = time("  e0 clean+count") {
        val c = graft.ops.CorpusClean.clean(b0, "doc_id", "text", cfg)
        c.cache(); c.count(); c
      }
      time("  e0 buildLshIndex") {
        graft.ops.Dedup.buildLshIndex(cleaned0, "doc_id", "text", index,
          cfg.shingleSize)
      }
      time("  e0 corpus land") {
        cleaned0.write.mode("overwrite").parquet(s"$corpus/batch_id=0")
      }
      cleaned0.unpersist()
      val cleaned1 = time("  e1 clean+count") {
        val c = graft.ops.CorpusClean.clean(b1, "doc_id", "text", cfg)
        c.cache(); c.count(); c
      }
      val novel1 = time("  e1 hash anti-join count") {
        val hashes = s.read.parquet(corpus)
          .select(md5(col("text")).as("__h")).distinct()
        val n = cleaned1.withColumn("__h", md5(col("text")))
          .join(hashes, Seq("__h"), "left_anti").drop("__h")
        n.cache(); n.count(); n
      }
      time("  e1 lshQueryIndex") {
        graft.ops.Dedup.lshQueryIndex(s, index, novel1, "doc_id", "text",
          cfg.nearDupThreshold, cfg.shingleSize).count()
      }
      time("  e1 appendToLshIndex") {
        graft.ops.Dedup.appendToLshIndex(novel1, "doc_id", "text", index,
          cfg.shingleSize)
      }
      cleaned1.unpersist(); novel1.unpersist()
      graft.etl.Checkpoints.sweep(spark); graft.etl.Scratch.sweep()
    }
    spark.stop()
  }
}
