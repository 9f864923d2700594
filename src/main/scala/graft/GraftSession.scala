package graft

import org.apache.spark.sql.SparkSession

/** The one place an engine session is built and its state is set. Every
  * main and the test suite get the confs `Bench` times, so a correctness
  * check runs the engine `Bench` measures (the perfbench harness still
  * builds its own session, without the two legacy parquet confs); a
  * caller adds only its deployment confs (master, classpath, checkpoint mode,
  * scratch dirs, `etl.ObjectStore.confs`) at build. graft's SQL
  * functions, optimizer rules and planner strategy are registered on
  * every session handed out; no gate or operator changes its session. */
object GraftSession {

  /** Cores the engine runs on: `$SPARK_GRAFT_CPUS`, else every core on
    * the box. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  private val LocalN = """local\[(\d+)\]""".r
  private val LocalCluster = """local-cluster\[(\d+),\s*(\d+),\s*\d+\]""".r

  /** One shuffle partition per core the master runs tasks on. */
  private[graft] def partitions(master: String): Int = master match {
    case LocalN(n) => n.toInt
    case LocalCluster(executors, cores) => executors.toInt * cores.toInt
    case _ => cpus
  }

  def create(): SparkSession = create(s"local[$cpus]")

  def create(master: String, confs: (String, String)*): SparkSession = {
    val builder = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", partitions(master).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // let AQE swap sort-merge -> shuffled-hash when the runtime map
      // size fits (the size check IS the OOM guard): big-to-big joins
      // on high-cardinality keys (shingle/band buckets) skip the sort
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "128m")
      // codegen class cache: the default (100 entries) is sized for a
      // handful of hot queries, not a 275-query workload — by the time
      // the timed pass reaches a query, its warm-up-compiled classes
      // have been evicted and every timed execution pays Janino
      // compilation again, defeating the warm-up pass's documented
      // purpose. Sized to hold the whole suite's generated classes
      // (a few thousand small entries); the same setting is what a
      // production deployment running a wide query mix would use on
      // its executors. Static conf — must be set before the session.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      // a TIMESTAMP(NANOS) parquet column reads as a LongType of nanos
      // since epoch instead of failing (PARQUET_TYPE_ILLEGAL);
      // `etl.Tables` rebuilds exact micros from it
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // expose a bucketed table's per-bucket on-disk sort to the planner
      // (off by default since SPARK-28216: MULTI-file buckets then pay a
      // merged-sorted read; `etl.FactBuckets` writes one sorted file per
      // bucket, where the order is free and removes the SMJ's Sort, and
      // Spark drops the claim by itself for a bucket with several files)
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.ui.enabled", "false")
    val spark = confs.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftExtensions.register(spark) // SQL functions + optimizer rules
    spark
  }

  /** The one way graft opens a child session: a new engine session of
    * `parent` (own SQL conf, temp views and functions over the same
    * SparkContext and its engine confs) that starts from every setting
    * `parent` was given after birth, with graft's extensions registered
    * and `confs` set on top; `parent` is not touched. Per-run state (a
    * gate's own conf, the views its SQL names) goes here, so a gate run
    * on a child plans under that child's settings.
    *
    * Spark's per-session artifact isolation is off on every child. An
    * isolated session runs its jobs under its own artifact state and
    * class loader, and `CodeGenerator`'s class cache is keyed by class
    * loader and source, so each fresh child, and each clone a
    * streaming query makes of it at start, compiled again every class
    * its plan generates, byte-identical or not. graft adds no session
    * artifacts (jars, files, REPL classes), so isolation protects
    * nothing here; off, a child reuses the classes any earlier session
    * compiled. A streaming query's clone copies the child's conf and so
    * inherits the setting. */
  def child(parent: SparkSession, confs: (String, String)*): SparkSession = {
    val s = parent.newSession()
    val born = s.conf.getAll
    val runtime = parent.conf.getAll.filterNot { case (k, v) => born.get(k).contains(v) }
    (runtime.toSeq ++ Seq("spark.sql.artifact.isolation.enabled" -> "false") ++ confs)
      .foreach { case (k, v) => s.conf.set(k, v) }
    GraftExtensions.register(s)
    s
  }
}
