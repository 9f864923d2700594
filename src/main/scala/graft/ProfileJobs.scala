package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Dev tool: per-gate JOB accounting (`runMain graft.ProfileJobs
  * <queryPrefix>...`) — on Bench's engine session, prints every job's
  * call site and description for the LAST (warm) run, so "this gate
  * pays N jobs" decomposes into WHICH actions and scaffolding fire.
  * Dev-only: drives the serialized-stage collapse work on the >2×
  * tail. */
object ProfileJobs {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.create()
    graft.streaming.WarmRuns.enabled = false
    val log = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val recording = new java.util.concurrent.atomic.AtomicBoolean(false)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (recording.get()) {
          val desc = Option(j.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse("")
          val site = Option(j.properties)
            .flatMap(p => Option(p.getProperty("callSite.short")))
            .getOrElse("?")
          log.add(f"job ${j.jobId}%4d  stages=${j.stageInfos.size}%2d  " +
            f"tasks=${j.stageInfos.map(_.numTasks).sum}%3d  $site  $desc")
        }
    })
    def sweep(): Unit = {
      graft.etl.Checkpoints.sweep(spark)
      graft.etl.Scratch.sweep()
    }
    SparkEntry.select(args.toSeq).foreach { g =>
      val name = g.name
      g.build(spark, sfDir).count() // warm-up
      sweep()
      log.clear()
      recording.set(true)
      val t0 = System.nanoTime()
      g.build(spark, sfDir).count()
      val sec = (System.nanoTime() - t0) / 1e9
      recording.set(false)
      // listener bus is async: give it a beat to drain before printing
      Thread.sleep(300)
      println(f"[jobs] $name  warm=$sec%.3f s  jobs=${log.size}")
      log.forEach(l => println(s"[jobs]   $l"))
      sweep()
    }
    spark.stop()
  }
}
