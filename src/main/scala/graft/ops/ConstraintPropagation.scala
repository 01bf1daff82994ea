package graft.ops

import org.apache.spark.sql.SparkSession

/** Runs an iterative operator's loop with Catalyst constraint
  * propagation switched off, then restores the caller's setting.
  *
  * Unioning localCheckpoint'ed levels trips a Catalyst bug: UnionBase's
  * constraint rewrite looks up the checkpoint's ORIGIN attributes in a
  * map keyed by its NEW output attributes ("key not found: root#NN").
  * Constraint propagation buys nothing for these iterative plans (every
  * level is already a materialized RDD scan), so [[TreeExplode]] and
  * [[ConnectedComponents]] turn it off around their loops.
  *
  * The setting is session-global, so the save/set/restore is
  * serialized: two callers interleaving it (A saves "unset", B saves
  * A's "false", A unsets, B restores "false") would leave constraint
  * propagation off for the whole session. The lock is reentrant, so an
  * operator may nest another on the same thread.
  */
private[ops] object ConstraintPropagation {
  private val Key = "spark.sql.constraintPropagation.enabled"

  def off[A](spark: SparkSession)(body: => A): A = synchronized {
    // getAll holds only explicitly set keys; getOption would read an
    // unset key as its default and restore it as set
    val old = spark.conf.getAll.get(Key)
    spark.conf.set(Key, "false")
    try body
    finally old match {
      case Some(v) => spark.conf.set(Key, v)
      case None    => spark.conf.unset(Key)
    }
  }
}
