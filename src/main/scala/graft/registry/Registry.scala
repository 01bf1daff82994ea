package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One query of the suite: its Spark body, its DuckDB oracle SQL (same output
  * column names, total ORDER BY on both sides) and the run-scoped
  * [[Memos]] its build reads, transitively — a query whose memo is built
  * from another memo declares both. */
final case class QuerySpec(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracleSql: String,
    memos: Set[String] = Set.empty)

/** The one list of the suite's queries, one file per family. To add a query,
  * append one [[QuerySpec]] to its family's `specs`. */
object Registry {

  /** Every query; building the list fails on a duplicate name. */
  lazy val specs: Seq[QuerySpec] = unique(
    ParityQueries.specs ++ GraphQueries.specs ++ DedupQueries.specs ++
      TextQueries.specs ++ SketchQueries.specs ++ EvalQueries.specs ++
      PipelineQueries.specs)

  private[graft] def unique(all: Seq[QuerySpec]): Seq[QuerySpec] = {
    val dups = all.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    all
  }

  /** Dev-only subset filter: the comma-separated name prefixes in the
    * environment variable `envVar`; unset keeps every name. */
  def wanted(envVar: String): String => Boolean = {
    val only = sys.env.get(envVar).map(_.split(",").toSeq.filter(_.nonEmpty))
    name => only.forall(_.exists(name.startsWith))
  }
}
