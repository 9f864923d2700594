package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.metrics.source.CodegenMetrics

import graft.{GraftExtensions, SparkEntry}
import graft.etl.{Checkpoints, Scratch, Tables}
import graft.streaming.WarmRuns

/** Closed-loop gate benchmark: one client (the main thread) runs one gate at
  * a time on `local[cpus]`, timing each through full materialization into the
  * `noop` sink, so the whole plan runs (final sort, every column) and nothing
  * is written. A run is: set-up, one cold pass (first execution of every
  * gate in this JVM), `WarmupPasses` untimed passes, the first of which writes
  * every gate's output to `--dump` for the oracle check, a fixed number of
  * timed warm passes, and the restart-from-checkpoint pass for streaming
  * gates. The seed sets the gate order of each pass. With `--trace 1` warm passes alternate untraced and traced
  * (listener installed), which yields the per-layer record and the tracing
  * overhead. Everything is written as one JSON record to `--out`.
  *
  * Usage: Harness --data DIR --gates g1,g2 --seed N --passes P --trace 0|1
  *   --out FILE --dump DIR [--spans FILE] */
object Harness {

  final case class Args(data: String, gates: Seq[String], seed: Long,
      passes: Int, trace: Boolean, out: String, dump: String,
      spans: String)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("data"), m("gates").split(",").toSeq.filter(_.nonEmpty),
      m("seed").toLong, m("passes").toInt, m.getOrElse("trace", "0") == "1",
      m("out"), m("dump"), m.getOrElse("spans", ""))
  }

  val cpus: Int = Runtime.getRuntime.availableProcessors()

  /** Untimed passes after the cold pass: at sf0.01 on 4 cores a pass is still
    * 10-30 % slower than in steady state for its first two warm passes (JIT). */
  val WarmupPasses = 2

  /** The session `graft.Bench` builds (same confs), with Spark's scratch
    * space kept under the working directory. */
  def session(localDir: String): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "128m")
    .config("spark.sql.codegen.cache.maxEntries", "10000")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", localDir)
    .getOrCreate()

  /** Gates the self-test injects: one that throws, one with a wrong result. */
  val Throwing = "selftest_throw"
  val Wrong = "selftest_wrong"

  def build(name: String, spark: SparkSession, dir: String): DataFrame = name match {
    case Throwing => spark.range(3).selectExpr("raise_error('injected failure') AS id")
    case Wrong =>
      val df = SparkEntry.queries("q06_count")(spark, dir)
      df.union(df)
    case g => SparkEntry.queries(g)(spark, dir)
  }

  def oracleSql(name: String): String = name match {
    case Throwing => "SELECT 1 AS id"
    case Wrong => SparkEntry.oracleSql("q06_count")
    case g => SparkEntry.oracleSql(g)
  }

  /** One gate execution as the harness saw it. */
  final case class Exec(id: String, gate: String, ok: Boolean,
      startMs: Long, buildS: Double, execS: Double, sweepS: Double,
      compileNs: Long, classes: Long, cacheBytes: Long, layers: Option[Layers]) {
    def seconds: Double = buildS + execS
  }

  def procField(file: String, key: String): Long =
    scala.io.Source.fromFile(file).getLines()
      .find(_.startsWith(key)).map(_.split("\\s+")(1).toLong).getOrElse(0L)

  def main(argv: Array[String]): Unit = {
    val entry = System.nanoTime()
    val a = parse(argv)
    val localDir = new File("spark-local").getAbsolutePath

    // ---- set-up, from main entry --------------------------------------
    val spark = session(localDir)
    GraftExtensions.register(spark)
    val tables = new File(a.data).list().toSeq.filter(_.endsWith(".parquet"))
      .map(_.stripSuffix(".parquet")).sorted
    tables.foreach(t => Tables.table(spark, a.data, t).schema)
    val setupS = (System.nanoTime() - entry) / 1e9
    val timeline = mutable.LinkedHashMap("setup" -> setupS)
    def mark(phase: String): Unit = timeline(phase) = (System.nanoTime() - entry) / 1e9

    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val errors = mutable.LinkedHashMap.empty[String, String]
    val spans = mutable.ArrayBuffer.empty[Span]

    def sweep(): Double = {
      val t0 = System.nanoTime()
      Checkpoints.sweep(spark)
      Scratch.sweep()
      (System.nanoTime() - t0) / 1e9
    }

    def run(gate: String, pass: Int, traced: Boolean, dump: Boolean = false): Exec = {
      val id = s"p$pass/$gate"
      val tr = tracer.filter(_ => traced)
      tr.foreach(_.begin(id, gate))
      val c0 = CodeGenerator.compileTime
      val k0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var t1 = t0
      val ok = try {
        val df = build(gate, spark, a.data)
        t1 = System.nanoTime()
        tr.foreach(_.addTracker(id, df.queryExecution.tracker))
        if (dump) df.coalesce(1).write.mode("overwrite").parquet(s"${a.dump}/$gate")
        else df.write.format("noop").mode("overwrite").save()
        true
      } catch {
        case e: Throwable =>
          errors.getOrElseUpdate(gate, String.valueOf(e.getMessage).take(300))
          false
      }
      val t2 = System.nanoTime()
      val compileNs = CodeGenerator.compileTime - c0
      val classes = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - k0
      val layers = tr.map(_.end(id))
      val cacheBytes = spark.sparkContext.getRDDStorageInfo
        .map(r => r.memSize + r.diskSize).sum
      val sweepS = sweep()
      if (traced) {
        val b = startMs + (t1 - t0) / 1000000
        val e = startMs + (t2 - t0) / 1000000
        spans += Span(id, "", "gate", gate, startMs, e)
        spans += Span(s"$id/build", id, "build", "SparkEntry.queries", startMs, b)
        spans += Span(s"$id/execute", id, "execute", "noop write", b, e)
        spans += Span(s"$id/sweep", id, "sweep", "Checkpoints/Scratch.sweep",
          e, e + (sweepS * 1000).toLong)
      }
      Exec(id, gate, ok, startMs, (t1 - t0) / 1e9, (t2 - t1) / 1e9,
        sweepS, compileNs, classes, cacheBytes, layers)
    }

    def order(pass: Int): Seq[String] =
      new Random(a.seed * 1000003L + pass).shuffle(a.gates)

    // ---- cold pass: first execution of every gate in this JVM ----------
    WarmRuns.enabled = false
    tracer.foreach(_.install())
    val streaming = mutable.LinkedHashSet.empty[String]
    val cold = order(0).map { g =>
      val p0 = WarmRuns.putAttempts
      val x = run(g, 0, traced = tracer.isDefined)
      if (WarmRuns.putAttempts > p0) streaming += g
      x
    }
    tracer.foreach(_.uninstall())
    mark("cold")

    // ---- warm passes ---------------------------------------------------
    def io(): Long = procField("/proc/self/io", "wchar:")
    final case class Pass(n: Int, warmup: Boolean, traced: Boolean,
        execs: Seq[Exec], wchar: Long)
    val passes = mutable.ArrayBuffer.empty[Pass]
    // a fixed number of passes, so both sides of a comparison do the same
    // work; traced runs add as many traced passes
    val total = WarmupPasses + (if (a.trace) 2 * a.passes else a.passes)
    while (passes.length < total) {
      val n = passes.length + 1
      val warmup = n <= WarmupPasses
      // timed untraced and traced passes in the order U T T U U T T U ..., so
      // a remaining warm-up trend favours neither side of the overhead figure
      val traced = a.trace && !warmup && (n - WarmupPasses) % 4 >= 2
      if (traced) tracer.foreach(_.install())
      val before = io()
      val xs = order(n).map(run(_, n, traced, dump = n == 1))
      val wrote = io() - before
      if (traced) tracer.foreach(_.uninstall())
      passes += Pass(n, warmup, traced, xs, wrote)
    }
    val peakRssKb = procField("/proc/self/status", "VmHWM:")
    mark("warm")

    Files.writeString(Paths.get(s"${a.dump}/oracle_sql.json"),
      Json(a.gates.distinct.sorted.map(g => g -> oracleSql(g)).toMap))

    // ---- restart from checkpoint, streaming gates only -----------------
    WarmRuns.enabled = true
    val restart = streaming.toSeq.sorted.map { g =>
      val sec = try {
        build(g, spark, a.data).write.format("noop").mode("overwrite").save()
        val t0 = System.nanoTime()
        build(g, spark, a.data).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } catch {
        case e: Throwable =>
          errors.getOrElseUpdate(g, String.valueOf(e.getMessage).take(300))
          -1.0
      }
      sweep()
      g -> sec
    }
    WarmRuns.enabled = false
    mark("restart")

    def execRec(x: Exec): Map[String, Any] = Map(
      "gate" -> x.gate, "ok" -> x.ok, "s" -> x.seconds, "build_s" -> x.buildS,
      "exec_s" -> x.execS, "sweep_s" -> x.sweepS, "compile_s" -> x.compileNs / 1e9,
      "classes" -> x.classes, "cache_mb" -> x.cacheBytes / 1048576.0) ++
      x.layers.map(l => "layers" -> layerRec(l, x)).toMap

    val conf = spark.conf.getAll
    val record = Map(
      "gates" -> a.gates, "seed" -> a.seed,
      "trace" -> a.trace, "streaming_gates" -> streaming.toSeq,
      "setup_s" -> setupS, "tables" -> tables,
      "cold" -> cold.map(execRec),
      "passes" -> passes.map(p => Map("n" -> p.n, "warmup" -> p.warmup, "traced" -> p.traced,
        "wchar_bytes" -> p.wchar, "execs" -> p.execs.map(execRec))).toSeq,
      "restart" -> restart.toMap,
      "errors" -> errors.toMap,
      "peak_rss_mb" -> peakRssKb / 1024.0, "timeline_s" -> timeline,
      "provenance" -> Map(
        "spark" -> spark.version, "jdk" -> System.getProperty("java.version"),
        "jvm" -> System.getProperty("java.vm.name"), "nproc" -> cpus,
        "master" -> spark.sparkContext.master,
        "heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "confs" -> conf))
    Files.writeString(Paths.get(a.out), Json(record))
    if (a.spans.nonEmpty) Files.writeString(Paths.get(a.spans),
      Json((spans ++ tracer.toSeq.flatMap(_.spans)).map { s =>
        Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
          "start_ms" -> s.startMs, "end_ms" -> s.endMs)
      }))
    spark.stop()
  }

  def layerRec(l: Layers, x: Exec): Map[String, Any] = {
    val endMs = x.startMs + (x.seconds * 1000).toLong
    val jobMs = Tracer.covered(l.jobIntervals.toSeq, x.startMs, endMs)
    val mb = 1048576.0
    Map(
      "plan.analysis_s" -> l.analysisMs / 1e3,
      "plan.optimization_s" -> l.optimizationMs / 1e3,
      "plan.planning_s" -> l.planningMs / 1e3,
      "plan.exchanges" -> l.exchanges, "plan.broadcasts" -> l.broadcasts,
      "sched.jobs" -> l.jobs, "sched.stages" -> l.stages, "sched.tasks" -> l.tasks,
      "sched.task_delay_s" -> l.taskDelayMs / 1e3,
      "sched.driver_self_s" -> math.max(0.0, x.seconds - jobMs / 1e3),
      "exec.task_run_s" -> l.runMs / 1e3, "exec.task_cpu_s" -> l.cpuNs / 1e9,
      "exec.gc_s" -> l.gcMs / 1e3, "exec.peak_task_mem_mb" -> l.peakTaskMem / mb,
      "exec.records_in" -> l.recordsIn,
      "shuffle.write_mb" -> l.shWriteBytes / mb, "shuffle.read_mb" -> l.shReadBytes / mb,
      "shuffle.records" -> l.shRecords, "shuffle.fetch_wait_s" -> l.fetchWaitMs / 1e3,
      "shuffle.spill_disk_mb" -> l.spillDiskBytes / mb,
      "etl.scan_mb" -> l.scanBytes / mb, "etl.files_read" -> l.filesRead,
      "etl.files_pruned" -> l.filesPruned, "etl.write_mb" -> l.writeBytes / mb,
      "etl.files_written" -> l.filesWritten,
      "stream.batches" -> l.batches, "stream.input_rows" -> l.streamRows,
      "stream.trigger_s" -> l.triggerMs / 1e3, "stream.commit_s" -> l.commitMs / 1e3,
      "stream.state_rows" -> l.stateRows.values.sum,
      "stream.state_mb" -> l.stateBytes.values.sum / mb)
  }
}

/** Minimal JSON writer for the record (maps, sequences, strings, numbers). */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${quote(k.toString)}:${apply(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
