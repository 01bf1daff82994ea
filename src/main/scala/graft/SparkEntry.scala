package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.registry.ParityQueries.pricingSummary
import graft.registry.Registry

/** Driver contract — one `queries` entry (+ DuckDB oracle SQL) per
  * implemented operator from SURVEY.md §2, both views of the one
  * [[Registry]] spec list.
  *
  * Numeric-determinism policy: every floating-point aggregate is computed
  * in exact DECIMAL arithmetic and cast to DOUBLE only at the end, with the
  * oracle SQL written identically — so Spark's parallel (unordered) partial
  * aggregation cannot produce a hash mismatch against the sequential
  * DuckDB run. Every query ends in a total ORDER BY on both sides.
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    pricingSummary(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Registry.specs.map(q => q.name -> q.build).toMap

  def oracleSql: Map[String, String] =
    Registry.specs.map(q => q.name -> q.oracleSql).toMap
}
