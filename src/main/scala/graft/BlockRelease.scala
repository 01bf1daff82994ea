package graft

import org.apache.spark.sql.SparkSession

/** Deterministic block-store hygiene for the bench/probe runners.
  *
  * Several operators materialize per-query intermediates with
  * `localCheckpoint` (fork-once discipline). Dropping the DataFrame
  * reference reclaims those blocks only ASYNCHRONOUSLY — the
  * ContextCleaner frees them after a GC notices the dead reference —
  * so over a 200-query bench pass completed queries' checkpoint blocks
  * pile up in the block store and tax later queries' memory headroom
  * (the r9 100× probe measured q63 at 372 s in-suite vs 255 s
  * isolated on exactly this). Between queries the runner can instead
  * release every persistent RDD that is NOT memo-protected, outside
  * any timed window — the synchronous spelling of what the cleaner
  * would eventually do.
  *
  * Only run-scoped memos ([[registry.Memos.protectedRddIds]]) and the
  * edge closure [[graft.query.Queries]] holds must survive: every other
  * persisted RDD in this codebase is a per-query intermediate (audited
  * r8: no operator shares persisted state across queries). The memo
  * set is load-bearing, not an optimization — a localCheckpoint
  * TRUNCATES lineage, so an unpersisted checkpoint cannot be
  * recomputed; releasing a block a later query still reads would fail
  * that query. That is also why this helper belongs in
  * runners, between queries, never inside an operator.
  */
object BlockRelease {

  /** Unpersist every persistent RDD except `keep`; returns how many
    * were released. Non-blocking: removal proceeds while the next
    * query starts. */
  def release(spark: SparkSession, keep: Set[Int]): Int = {
    val doomed = spark.sparkContext.getPersistentRDDs
      .filter { case (id, _) => !keep.contains(id) }
    doomed.foreach { case (_, rdd) => rdd.unpersist(blocking = false) }
    doomed.size
  }

  /** The between-queries hygiene step: release everything but the
    * run-scoped memo chain and the edge closure. */
  def releaseTransient(spark: SparkSession): Int =
    release(spark, registry.Memos.protectedRddIds ++ graft.query.Queries.protectedRddIds)
}
