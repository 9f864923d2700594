package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Per-JVM ORDERKEY-BUCKETED layout of the two fact projections every
  * trade-graph gate joins — lineitem → (l_orderkey, l_suppkey) and
  * orders → (o_orderkey, o_custkey) — the bucketed-table posture of
  * guide §2.4/§6: a fact table STORED bucketed by its join key lets
  * every later join on that key plan with ZERO exchange on the fact
  * side. Both tables are written through Spark's bucketed writer with
  * the same bucket count, pre-repartitioned on the bucket key so each
  * bucket is exactly ONE file sorted on the key — the scan then
  * reports `HashPartitioning(orderkey, n)` AND the per-bucket sort
  * order, so the big-big orderkey join needs neither an Exchange nor
  * a Sort on either side (the one shuffle the r15 decade table showed
  * as the graph family's standing 4–6× residual).
  *
  * Lifecycle = [[PrebuiltState]] (the LSH/IVF/posting-index pattern,
  * and exactly what the r15 verdict prescribed for this family): built
  * once per JVM from the parquet inputs, under an exit-hook-removed
  * pinned dir, never persisted across runs; the build itself pays the
  * orderkey shuffle once (what a production deployment pays when it
  * lands the fact table bucketed at ingest). Results are byte-identical
  * to the raw projections — the layout changes WHERE rows sit, not
  * which rows exist — and every consumer gate keeps its unchanged
  * from-base-tables DuckDB oracle.
  *
  * Fallback: `spark.graft.graph.bucketedFacts=false` returns the plain
  * projections and the pre-r16 plan — spec'd for parity in
  * FactBucketsSpec. A failed build fails the caller; it does not fall
  * back. */
object FactBuckets {

  /** Serializes builds so concurrent gates do not double-write. */
  private val lock = new Object

  def enabled(s: SparkSession): Boolean =
    s.conf.get("spark.graft.graph.bucketedFacts", "true").toBoolean

  /** Buckets per fact table. No main or gate needs another count; a
    * cluster deployment would size it to cores × executors as it would
    * any bucketed table (the layout, not the constant, is the contract). */
  val Buckets = 32

  /** The (lineitem, orders) orderkey-keyed projections for `dir`:
    * bucketed-table scans when enabled (built on first use in this
    * JVM), the plain parquet projections otherwise — same rows either
    * way, only the physical partitioning differs. */
  def orderkeyFacts(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    if (enabled(s)) orderkeyBucketed(s, dir) else raw(s, dir)

  private def raw(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    (Tables.table(s, dir, "lineitem").select("l_orderkey", "l_suppkey"),
      Tables.table(s, dir, "orders").select("o_orderkey", "o_custkey"))

  /** The bucketed pair, building files once per JVM. Catalog entries
    * are per-SparkContext while the files are per-JVM, so a session
    * on a different context (ClusterCheck's cluster phase after a
    * local phase) re-registers the existing files via DDL instead of
    * rewriting them; table names derive from the unique per-build
    * state dir, so an invalidated+rebuilt state never collides with a
    * stale catalog entry. */
  def orderkeyBucketed(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    lock.synchronized {
      val root = PrebuiltState.getOrCreate(
          s"factBuckets|$dir|$Buckets", "fact-buckets") { d =>
        val (li, od) = raw(s, dir)
        writeBucketed(s, li, "l_orderkey", s"$d/li", tblName(d, "li"))
        writeBucketed(s, od, "o_orderkey", s"$d/od", tblName(d, "od"))
      }
      (tableFor(s, tblName(root, "li"), s"$root/li", "l_orderkey"),
        tableFor(s, tblName(root, "od"), s"$root/od", "o_orderkey"))
    }

  private def tblName(root: String, side: String): String = {
    val base = new java.io.File(root).getName
      .toLowerCase.replaceAll("[^a-z0-9]", "_")
    s"graft_${base}_$side"
  }

  /** One sorted file per bucket: `repartition(n, key)` uses the same
    * `pmod(murmur3, n)` the bucket spec hashes with, so each write
    * task holds exactly one bucket — the single-file-per-bucket shape
    * Spark requires before it trusts the on-disk sort order (a
    * multi-file bucket forces a Sort above the scan). */
  private def writeBucketed(s: SparkSession, df: DataFrame, key: String,
      path: String, name: String): Unit = {
    s.sql(s"DROP TABLE IF EXISTS $name")
    graft.GraftSession.write(df.repartition(Buckets, col(key)))
      .bucketBy(Buckets, key).sortBy(key)
      .option("path", path).mode("overwrite").saveAsTable(name)
  }

  private def tableFor(s: SparkSession, name: String, path: String,
      key: String): DataFrame = {
    if (!s.catalog.tableExists(name)) {
      val ddl = s.read.parquet(path).schema.toDDL
      s.sql(s"CREATE TABLE $name ($ddl) USING parquet " +
        s"CLUSTERED BY ($key) SORTED BY ($key) INTO $Buckets BUCKETS " +
        s"LOCATION '$path'")
    }
    s.table(name)
  }
}
