package graft.gates

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One contract gate: `build` plans the query over the parquet tables in
  * a directory; its result must hash-match `oracleSql` run by DuckDB on
  * the same tables. */
final case class Gate(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracleSql: String)

object Gate {

  /** Gates by name. A name declared twice fails here instead of the later
    * declaration silently replacing the earlier one. */
  def index(gates: Seq[Gate]): Map[String, Gate] = {
    val dups = gates.groupBy(_.name).collect { case (n, gs) if gs.size > 1 => n }
    require(dups.isEmpty,
      s"gate declared more than once: ${dups.toSeq.sorted.mkString(", ")}")
    gates.map(g => g.name -> g).toMap
  }
}
