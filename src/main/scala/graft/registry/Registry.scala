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

  /** Dev-only subset filter: the comma-separated entries of the
    * environment variable `envVar` ([[selects]]); unset keeps every name. */
  def wanted(envVar: String): String => Boolean = selects(sys.env.get(envVar))

  /** The names a comma-separated subset list keeps. An entry that is a
    * bare query number (`q22`) keeps only that query (`q22_…`, not
    * `q220_…`); any other entry is a name prefix (`q22_`, `bucketed`).
    * None keeps every name. */
  private[graft] def selects(only: Option[String]): String => Boolean = {
    val entries = only.map(_.split(",").toSeq.filter(_.nonEmpty))
    def keeps(entry: String, name: String): Boolean =
      if (entry.matches("q\\d+")) name == entry || name.startsWith(entry + "_")
      else name.startsWith(entry)
    name => entries.forall(_.exists(keeps(_, name)))
  }
}
