package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.gates._

/** Driver contract — see SURVEY.md §7.
  *
  * Every [[Gate]] pairs a pure plan builder over the driver's parquet
  * tables in `dir` with the DuckDB-equivalent SQL for the hash-compare
  * gate. Each gate is declared once, in its family object under
  * `graft.gates`. Conventions shared by both sides:
  *   - identical column aliases (driver sorts columns by name),
  *   - a deterministic ORDER BY on a unique (or value-identical) key,
  *   - derived doubles rounded (ROUND(x, n)) with identical n, so
  *     last-ulp float divergence between engines cannot flip the hash.
  */
object SparkEntry {

  val gates: Seq[Gate] =
    ReferenceGates.all ++ JoinGates.all ++ DedupGates.all ++
      LinkageGates.all ++ TextGates.all ++ SamplingGates.all ++
      RetrievalGates.all ++ AnalyticsGates.all ++ EventGates.all ++
      GraphGates.all ++ StreamingGates.all ++ LifecycleGates.all

  private val byName: Map[String, Gate] = Gate.index(gates)

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    byName.map { case (name, g) => name -> g.build }

  val oracleSql: Map[String, String] =
    byName.map { case (name, g) => name -> g.oracleSql }

  /** The gates whose names start with one of `prefixes` (every gate when
    * there are none), sorted by name. */
  def select(prefixes: Seq[String]): Seq[Gate] =
    gates.filter(g => prefixes.isEmpty || prefixes.exists(g.name.startsWith))
      .sortBy(_.name)

  /** Flagship query on the sf0.001 tables; the driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_weekly_compound")(spark, "/root/testdata/sf0.001")
}
