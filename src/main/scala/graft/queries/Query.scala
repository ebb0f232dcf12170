package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One named query: its build function over (session, table dir), the
  * DuckDB twin whose output it must match, and — for a query the
  * full-suite bench leaves out — the reason it is not timed there.
  */
final case class Query(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracleSql: String,
    benchExcluded: Option[String] = None)

object Query {

  /** The registry over `all`, refusing a name that appears twice (a
    * `Map` literal would silently keep only the last entry).
    */
  def registry(all: Seq[Query]): Seq[Query] = {
    val dups = all.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(dups.isEmpty,
      s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    all
  }
}
