package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Recursive explosion of a weighted adjacency list (the reference's
  * composition-tree use case, `/root/reference/docs/DataModel.md:386-391`:
  * a PostgreSQL recursive CTE over `vw_composicao_itens_unificados`).
  *
  * Spark 4 runs the documented `WITH RECURSIVE` shape too
  * ([[graft.query.Views]]; `QueriesSpec` pins it against this operator),
  * but a recursive CTE neither collapses converging paths per hop nor
  * bounds lineage, and its step must re-cast the widening decimal
  * product every iteration. This is an iterative BFS of self-joins
  * instead (SURVEY.md §7.4), with two scale-minded choices:
  *  - **DAG collapse**: after each hop, paths converging on the same
  *    (root, node) are pre-aggregated (`sum` of path products — valid
  *    because multiplication distributes over addition). Path count never
  *    explodes combinatorially, unlike naive path enumeration.
  *  - **Lineage control**: every BFS level is `localCheckpoint`'ed so the
  *    plan doesn't grow unboundedly with depth and each level is computed
  *    exactly once — lazily, so the size count that drives the loop is
  *    the same single job that materializes the level (reused by the
  *    next hop and the final roll-up).
  *
  * Cycle guard: the loop is bounded by `maxDepth`; a non-empty frontier at
  * the bound raises (dangling/cyclic graphs exist in the wild — the
  * reference's own placeholder machinery proves dangling refs happen).
  */
object TreeExplode {

  /** @param edges  DataFrame with columns (parent, child, coeff)
    * @param roots  DataFrame with single column (root)
    * @return (root, node, eff_coeff): every node reachable from each root,
    *         with the summed product of edge coefficients over all paths.
    */
  def explode(edges: DataFrame, roots: DataFrame,
              maxDepth: Int = 32): DataFrame =
    explodeWithRounds(edges, roots, maxDepth)._1

  /** As [[explode]], also returning the number of materialization rounds
    * (count() driver round-trips) the BFS took — ~⌈depth/2⌉+1 with the
    * 2-hop batching below; [[TreeExplodeSpec]] pins the bound on a chain
    * fixture. */
  def explodeWithRounds(edges: DataFrame, roots: DataFrame,
                        maxDepth: Int = 32): (DataFrame, Int) = {
    val e = edges.select(col("parent"), col("child"), col("coeff"))
    // At realistic scale the edge table is dimension-sized (10^5-10^6 rows):
    // cache it once; every level joins against it. Unpersisted in the
    // finally block — the result is localCheckpoint'ed first so it no
    // longer depends on the cached lineage.
    e.cache()
    // The level union trips a Catalyst constraint-rewrite bug, so the
    // loop runs with constraint propagation off (ConstraintPropagation).
    try ConstraintPropagation.off(edges.sparkSession) {
      // ONE Spark job per BFS level: each frontier is a LAZY
      // localCheckpoint whose first action — the count() below — both
      // materializes the level (bounded lineage, computed exactly once)
      // and returns its size, replacing the eager-checkpoint-job +
      // isEmpty-probe double action of the previous design (the r2
      // bench's 16 s → the per-level driver round-trips, not data
      // volume). Checkpointing every level also keeps the accumulator
      // union homogeneous (RDD scans only), which sidesteps a Catalyst
      // Union constraint-rewrite bug when checkpointed and
      // non-checkpointed branches are mixed.
      def hop(f: DataFrame): DataFrame = f.as("f")
        .join(e.as("e"), col("f.node") === col("e.parent"))
        .select(col("f.root").as("root"), col("e.child").as("node"),
          (col("f.eff_coeff") * col("e.coeff")).as("eff_coeff"))
        .groupBy("root", "node").agg(sum("eff_coeff").as("eff_coeff"))

      var frontier = roots.select(col("root")).as("f")
        .join(e.as("e"), col("f.root") === col("e.parent"))
        .select(col("f.root").as("root"), col("e.child").as("node"),
          col("e.coeff").as("eff_coeff"))
        .groupBy("root", "node").agg(sum("eff_coeff").as("eff_coeff"))
        .localCheckpoint(eager = false)
      var n = frontier.count()
      var rounds = 1
      var acc = frontier
      var depth = 1
      // TWO hops per materialization round: h1 is an intermediate of
      // h2's plan, both lazily checkpointed, so the single count() below
      // runs ONE job that materializes both levels (sc.runJob checkpoints
      // every marked ancestor RDD it computed). Halves the driver
      // round-trips — the actual per-level cost at depth (r2 bench
      // finding) — without recomputing h1 for the accumulator.
      while (n > 0 && depth < maxDepth) {
        val h1 = hop(frontier).localCheckpoint(eager = false)
        val h2 = hop(h1).localCheckpoint(eager = false)
        n = h2.count()
        rounds += 1
        // h1 can be non-empty when h2 is already empty — accumulate both
        // unconditionally (an empty checkpointed frame unions harmlessly
        // and keeps the union homogeneous: RDD scans only).
        acc = acc.unionByName(h1).unionByName(h2)
        frontier = h2
        depth += 2
      }
      if (n > 0)
        throw new IllegalStateException(
          s"TreeExplode: frontier still non-empty at depth $maxDepth - cycle or overly deep graph")
      (acc.groupBy("root", "node").agg(sum("eff_coeff").as("eff_coeff"))
        .localCheckpoint(), rounds)
    } finally e.unpersist()
  }
}
