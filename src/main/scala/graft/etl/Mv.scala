package graft.etl

import scala.collection.concurrent.TrieMap
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference,
  Expression}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter,
  LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation}

/** Materialized views with OPTIMIZER-INTEGRATED reuse: [[register]]
  * materializes an aggregate query to parquet and records its plan
  * shape; the [[MvRewrite]] Catalyst rule then rewrites ANY later
  * query whose aggregate subtree matches to read the materialization
  * instead of re-scanning the fact table — the caller keeps writing
  * the query against the base table and the planner substitutes the
  * precomputed result. This is the query-side complement of
  * [[MaterializedAgg]] (which maintains partials incrementally but
  * must be read explicitly).
  *
  * Matching has two tiers:
  *
  *   1. EXACT — a canonicalized-plan fingerprint, as before: exprIds
  *      and aliases normalized by Catalyst's canonicalization, file
  *      relations identified by their CONCRETE FILE SNAPSHOT (every
  *      (path, length, mtime) triple in the scan) plus the pruned
  *      schema. The same aggregation over the same files matches
  *      regardless of how the DataFrame was rebuilt.
  *   2. PROJECTED — a user's `SELECT n, g FROM <registered shape>`
  *      (reordered or column-subset projection, which the optimizer
  *      collapses INTO the aggregate and whose column pruning also
  *      narrows the base scan) matches by a name-normalized shape:
  *      identical filters over the same file snapshot, identical
  *      grouping-key set, and every candidate output column present
  *      among the view's materialized columns — then columns are
  *      remapped positionally. This tier is guarded: it applies only
  *      when the subtree's attribute names are unambiguous (a single
  *      base relation, no two attributes sharing a name), because
  *      name-normalized comparison cannot distinguish same-named
  *      attributes from a self-join.
  *
  * Any change to grouping keys, aggregate expressions, pre-agg
  * filters, or the base table's files (INCLUDING files appended to
  * the same directory) misses both tiers and falls back to the live
  * scan — a stale or wrong materialization is never served.
  *
  * Freshness contract: base files are snapshotted as
  * (path, length, modification time). A base file REWRITTEN IN PLACE
  * with identical byte length within the filesystem's mtime
  * granularity (1 s on HDFS, coarser on some object stores) is
  * indistinguishable from unchanged under that snapshot and would be
  * served stale — same-size in-place rewrites inside one mtime tick
  * are OUT OF CONTRACT (append/replace-with-new-files layouts, the
  * normal warehouse discipline, are fully covered; plain FileStatus
  * exposes no inode/etag to tighten this further without a per-file
  * content read).
  *
  * Scale shape: the rewrite replaces a full fact-table scan +
  * shuffle with a scan of the (group-cardinality-sized) parquet
  * result — the classic 100 TB dashboard lever. The registry is
  * driver-side metadata, SCOPED PER SESSION (keyed by session UUID,
  * so two SparkSessions in one JVM never see each other's views);
  * lookups happen only at Aggregate-rooted plan nodes during
  * optimization, and only after a cheap root-path pre-screen — the
  * full fingerprint (which lists files) is computed ONLY for
  * aggregates that actually scan a registered view's base table.
  * Entries whose backing files are gone self-evict ([[prune]] runs
  * on every [[Scratch.sweep]]); existence is resolved through the
  * path's own Hadoop FileSystem, so views materialized to HDFS/S3
  * behave the same as local ones. */
object Mv {

  /** Name-normalized shape for the PROJECTED tier: the child
    * subtree's filters + file snapshot, the sorted grouping-key
    * renders, and the positional output-column renders (top alias
    * stripped — the parquet column POSITION, not its name, carries
    * identity). None when the defining plan's names are ambiguous. */
  private case class NameShape(childFp: String, grouping: Seq[String],
    outCols: Seq[String])

  private case class Entry(path: String, baseRoots: Set[String],
    shape: Option[NameShape])

  /** (session UUID, exact canonical fingerprint) -> materialization. */
  private val registry = TrieMap.empty[(String, String), Entry]

  /** Bypass flag so that computing the DEFINING query's fingerprint
    * (and writing its data) never routes through an earlier
    * registration of the same shape. */
  private val disabled = new ThreadLocal[Boolean] {
    override def initialValue: Boolean = false
  }

  /** Stable per-session key. Classic sessions expose a UUID; any
    * other implementation falls back to identity (still per-session,
    * just not stable across serialization — registry is driver-only
    * so that is sufficient). */
  private def sessionKey(spark: SparkSession): String =
    try org.apache.spark.sql.graftbridge.Bridge.sessionUUID(spark)
    catch { case _: ClassCastException =>
      "id-" + System.identityHashCode(spark).toString }

  /** Materialize `df` (an Aggregate-rooted query) to `path` and
    * register it for automatic substitution in `df`'s OWN session.
    * Re-registering the same shape replaces the previous entry. */
  def register(df: DataFrame, path: String): Unit = {
    disabled.set(true)
    try {
      val plan = df.queryExecution.optimizedPlan
      require(plan.isInstanceOf[Aggregate],
        "Mv.register expects an Aggregate-rooted query (got " +
          plan.nodeName + ")")
      graft.GraftSession.write(df).mode("overwrite").parquet(path)
      registry.put((sessionKey(df.sparkSession), fingerprint(plan)),
        Entry(path, rootPathsOf(plan),
          nameShapeOf(plan.asInstanceOf[Aggregate])))
    } finally disabled.set(false)
  }

  /** Register a view whose materialization ALREADY exists at `path`
    * (maintained externally, e.g. [[MaintainedMv]]): records the
    * defining plan's fingerprint without re-writing the data. Any
    * previous registration pointing at the same path (an older base
    * snapshot) is dropped — one materialization, one live
    * fingerprint. */
  private[etl] def registerExisting(df: DataFrame, path: String): Unit = {
    disabled.set(true)
    try {
      val plan = df.queryExecution.optimizedPlan
      require(plan.isInstanceOf[Aggregate],
        "Mv.registerExisting expects an Aggregate-rooted query (got " +
          plan.nodeName + ")")
      val sk = sessionKey(df.sparkSession)
      registry.keys.foreach { key =>
        if (key._1 == sk && registry.get(key).exists(_.path == path))
          registry.remove(key)
      }
      registry.put((sk, fingerprint(plan)),
        Entry(path, rootPathsOf(plan),
          nameShapeOf(plan.asInstanceOf[Aggregate])))
    } finally disabled.set(false)
  }

  /** Union of the registered views' base-table root paths for this
    * session — the pre-screen set. Empty ⇒ the rewrite is a no-op. */
  def registeredRoots(spark: SparkSession): Set[String] =
    if (disabled.get || registry.isEmpty) Set.empty
    else {
      val sk = sessionKey(spark)
      registry.iterator.collect {
        case ((s, _), e) if s == sk => e.baseRoots
      }.flatten.toSet
    }

  /** Root paths of every file relation under `plan` (NOT the file
    * listing — this is the cheap pre-screen side). */
  def rootPathsOf(plan: LogicalPlan): Set[String] =
    plan.collect {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
        case _ => Nil
      }
    }.flatten.toSet

  /** Match a candidate (optimized, resolved) Aggregate: on hit,
    * Some((materialization path, for each candidate output column
    * its positional index into the materialized columns)). Tier 1 is
    * the exact canonical fingerprint (identity index mapping); tier
    * 2 the name-normalized projected shape. Backing-file existence
    * is re-checked here, so a concurrent eviction cannot serve a
    * dangling path. */
  def matchAggregate(spark: SparkSession,
      agg: Aggregate): Option[(String, Seq[Int])] =
    if (disabled.get) None
    else {
      val sk = sessionKey(spark)
      val exactKey = (sk, fingerprint(agg))
      val exact = registry.get(exactKey).filter { e =>
        val ok = existsHadoop(spark, e.path)
        if (!ok) registry.remove(exactKey)
        ok
      }.map(e => (e.path, agg.aggregateExpressions.indices.toSeq))
      exact.orElse {
        // linear scan over the (driver-metadata-sized) registry;
        // entries whose backing path is gone are EVICTED here, not
        // just skipped, so dead entries are never rescanned
        nameShapeOf(agg).flatMap { cand =>
          registry.iterator.flatMap { case (key @ (s, _), e) =>
            if (s != sk || !e.shape.exists(v =>
                v.childFp == cand.childFp && v.grouping == cand.grouping &&
                cand.outCols.forall(v.outCols.contains))) None
            else if (!existsHadoop(spark, e.path)) {
              registry.remove(key); None
            } else
              Some((e.path, cand.outCols.map(e.shape.get.outCols.indexOf)))
          }.nextOption()
        }
      }
    }

  def isEmpty: Boolean = registry.isEmpty

  def clear(): Unit = registry.clear()

  /** Drop entries whose backing files are gone (swept scratch). Works
    * with or without an active session: off-session sweeps resolve
    * the filesystem from a default Hadoop Configuration, so dead
    * roots never linger in the pre-screen set. */
  def prune(): Unit = {
    val conf = SparkSession.getActiveSession
      .map(graft.GraftSession.hadoopConf)
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    registry.keys.foreach { key =>
      registry.get(key).foreach { e =>
        val gone =
          try {
            val hp = new org.apache.hadoop.fs.Path(e.path)
            !hp.getFileSystem(conf).exists(hp)
          } catch { case NonFatal(_) => true }
        if (gone) registry.remove(key)
      }
    }
  }

  /** Existence through the path's OWN filesystem (local, HDFS, S3 —
    * `java.nio.file` would evict every non-local materialization and
    * can throw on scheme-qualified URIs). */
  private def existsHadoop(spark: SparkSession, p: String): Boolean = {
    try {
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(graft.GraftSession.hadoopConf(spark)).exists(hp)
    } catch { case NonFatal(_) => false }
  }

  /** Structural fingerprint of a canonicalized plan: node kinds +
    * canonicalized expressions, with file relations rendered as the
    * SORTED (path, length, mtime) snapshot of their current file
    * listing + pruned output schema. Names and exprIds are already
    * normalized by canonicalization, so semantically identical plans
    * built independently fingerprint equal — but any file added,
    * removed, or rewritten under the same root path changes the
    * snapshot and misses (see the freshness contract in the object
    * scaladoc for the mtime-granularity caveat). Listing goes through
    * the relation's own FileIndex (cached by Spark alongside the scan
    * itself, so the fingerprint sees exactly the files the query
    * would read). */
  def fingerprint(plan: LogicalPlan): String =
    plan.canonicalized.map {
      case lr: LogicalRelation =>
        lr.relation match {
          case fs: HadoopFsRelation =>
            snapshotOf(fs) +
              lr.output.map(a => a.dataType.simpleString)
                .mkString("[", ",", "]")
          case other => s"scan[${other.schema.simpleString}]"
        }
      case n =>
        n.nodeName +
          n.expressions.map(_.canonicalized.toString)
            .mkString("[", ",", "]")
    }.mkString("\n")

  private def snapshotOf(fs: HadoopFsRelation): String = {
    val files = fs.location.listFiles(Nil, Nil)
      .flatMap(_.files.map(f =>
        s"${f.getPath}:${f.getLen}:${f.getModificationTime}"))
      .sorted
    s"scan[${files.mkString(",")}]"
  }

  private def stripAlias(e: Expression): Expression = e match {
    case a: Alias => a.child
    case other => other
  }

  /** exprIds stripped STRUCTURALLY, names kept: `sum(v#35)` and
    * `sum(v#102)` both render `sum(v#0)`. Every AttributeReference is
    * rewritten to exprId 0 / no qualifier BEFORE rendering — a regex
    * over the toString would also mangle `#\d+` inside string
    * LITERALS, making filters that differ only in literals (`'a#1'`
    * vs `'a#999'`) render identical and serving a materialization
    * built under a different filter. Only safe when names are
    * unambiguous — callers guard via [[nameShapeOf]]'s
    * single-relation/distinct-name check. Raw (non-canonicalized)
    * expressions on purpose: per-expression canonicalization reorders
    * commutative operands by exprId-dependent hashes, which would
    * make renders unstable across independently built frames. */
  private def renderByName(e: Expression): String =
    e.transform {
      case a: AttributeReference =>
        AttributeReference(a.name, a.dataType, a.nullable, a.metadata)(
          exprId = org.apache.spark.sql.catalyst.expressions.ExprId(0),
          qualifier = Nil)
      case al: Alias => // inner aliases print "AS name#id" — same strip
        Alias(al.child, al.name)(
          exprId = org.apache.spark.sql.catalyst.expressions.ExprId(0),
          qualifier = Nil, explicitMetadata = al.explicitMetadata)
    }.toString

  /** Name-normalized shape of an optimized Aggregate, or None when
    * the plan is not shaped scan→(filters/projects)→agg over ONE
    * file relation with globally distinct attribute names. The child
    * render keeps filter conditions and COMPUTED projection columns
    * but drops bare-attribute projection lists — pure column pruning
    * does not change row content, and candidate queries that read
    * fewer of the view's outputs prune the base scan differently. */
  private def nameShapeOf(agg: Aggregate): Option[NameShape] = {
    val relations = agg.child.collect { case lr: LogicalRelation => lr }
    val attrs = agg.child.flatMap(_.output).distinct
    val ambiguous =
      attrs.groupBy(_.name).exists(_._2.map(_.exprId).distinct.size > 1)
    if (relations.size != 1 || ambiguous) None
    else {
      var supported = true
      val parts = agg.child.map {
        case lr: LogicalRelation => lr.relation match {
          case fs: HadoopFsRelation => snapshotOf(fs)
          case other => s"scan[${other.schema.simpleString}]"
        }
        case f: Filter => "Filter[" + renderByName(f.condition) + "]"
        case p: Project =>
          val computed = p.projectList.filterNot(
            _.isInstanceOf[AttributeReference])
          if (computed.isEmpty) "" // pure pruning — row-content neutral
          else "Project" + computed.map(renderByName).sorted
            .mkString("[", ",", "]")
        case other => supported = false; other.nodeName
      }.filter(_.nonEmpty)
      if (!supported) None
      else Some(NameShape(
        parts.mkString("\n"),
        agg.groupingExpressions.map(renderByName).sorted,
        agg.aggregateExpressions.map(e => renderByName(stripAlias(e)))))
    }
  }
}

/** The substitution rule (injected via
  * `spark.experimental.extraOptimizations`, which runs AFTER the main
  * optimizer batches — so both the registered fingerprint and the
  * probed subtree are in fully-optimized form; in particular a
  * user's reordered/subset projection over the view shape has
  * already been collapsed into the Aggregate, which is why
  * projected matching happens at the Aggregate node). Output
  * attributes are re-aliased onto the original exprIds via the
  * matched column indices, keeping every downstream reference valid.
  * The match runs ONCE per candidate aggregate, and only for
  * aggregates whose scanned root paths intersect a registered base
  * table. */
object MvRewrite extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = {
    val spark = SparkSession.active
    val roots = Mv.registeredRoots(spark)
    if (roots.isEmpty) plan
    else plan.transformDown {
      case agg: Aggregate if agg.resolved &&
          Mv.rootPathsOf(agg).exists(roots) =>
        Mv.matchAggregate(spark, agg) match {
          case Some((path, idx)) =>
            val scan = spark.read.parquet(path).queryExecution.analyzed
            if (agg.output.zip(idx).forall { case (o, i) =>
                i >= 0 && i < scan.output.size &&
                  scan.output(i).dataType == o.dataType })
              Project(agg.output.zip(idx).map { case (o, i) =>
                Alias(scan.output(i), o.name)(exprId = o.exprId)
              }, scan)
            else agg
          case None => agg
        }
    }
  }
}
