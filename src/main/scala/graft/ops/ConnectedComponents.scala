package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components by min-label propagation WITH per-round pointer
  * doubling — the finishing step of large-scale dedup (near-dup PAIRS →
  * duplicate GROUPS, keep one representative per component).
  *
  * Each round is two steps:
  *   1. '''hop''' — every node takes the minimum label over itself and
  *      its neighbors (classic label propagation, moves a label one edge);
  *   2. '''shortcut''' — every node then replaces its label L(v) with
  *      L(L(v)) (a self-join of the hop result on `cluster_id = node`),
  *      the pointer-doubling step of Shiloach-Vishkin-style CC: the
  *      distance a minimum label has travelled roughly doubles per round.
  *
  * On a chain of n nodes the hop-only variant needs O(n) rounds (label
  * moves one edge per round); hop+shortcut covers 2^(k+1)-2 edges after k
  * rounds, so the fixpoint lands in ⌈log₂ n⌉ + O(1) rounds — the
  * difference between 50 and 10⁶ driver round-trips on a pathological
  * 100 TB dedup graph. [[ConnectedComponentsSpec]] pins this bound on a
  * chain fixture (rounds ≤ ⌈log₂ n⌉ + 2), which is variance-proof in a
  * way wall-clock benchmarks are not.
  *
  * Same engineering as [[TreeExplode]]: every round is lazily
  * localCheckpoint'ed (computed once by the convergence count, bounded
  * lineage) and constraint propagation is disabled around the loop
  * (Catalyst Union rewrite bug with checkpointed branches).
  */
object ConnectedComponents {

  /** @param edges undirected edges as columns (a, b)
    * @return (node, cluster_id) where cluster_id = min node id reachable
    */
  def labels(edges: DataFrame, maxIters: Int = 50): DataFrame =
    labelsWithRounds(edges, maxIters)._1

  /** Dedup pair graphs are usually TINY relative to the corpus that
    * produced them (thousands of near-dup pairs from millions of docs).
    * Below this many symmetrized edges the component labels are computed
    * with a driver-side union-find over ONE bounded collect (≤ ~2·10⁵
    * longs ≈ 2 MB — the same bounded-driver-state budget as the
    * centroid loops) instead of ~⌈log₂ n⌉ distributed label rounds,
    * each a blocking job. Larger graphs take the distributed
    * pointer-doubling path unchanged; pass 0 to force it (the chain
    * fixtures in [[ConnectedComponentsSpec]] and StressScale do, so the
    * O(log n) round bound stays pinned on real executions).
    *
    * Measurement override: the `graft.cc.localThreshold` system
    * property (read at call time) replaces the default, so scale
    * harnesses (HeavyScale) can force BOTH legs of a ratio onto the
    * distributed algorithm — a 10× leg on the driver fast path vs a
    * 100× leg on pointer doubling would compare two algorithms, not
    * one operator's scaling. Production callers never set it. */
  def LocalEdgeThreshold: Long =
    sys.props.get("graft.cc.localThreshold").map(_.toLong).getOrElse(100000L)

  /** As [[labels]], also returning the number of label-update rounds run
    * (each round = exactly one Spark job / driver round-trip), so tests
    * can pin the O(log n) convergence structurally. */
  def labelsWithRounds(edges: DataFrame, maxIters: Int = 50,
                       localThreshold: Long = LocalEdgeThreshold): (DataFrame, Int) = {
    val spark = edges.sparkSession
    ConstraintPropagation.off(spark) {
      val und = edges.select(col("a"), col("b"))
        .unionByName(edges.select(col("b").as("a"), col("a").as("b")))
        .distinct()
      und.cache()
      try {
        val isLong = und.schema("a").dataType ==
          org.apache.spark.sql.types.LongType
        if (isLong && und.count() <= localThreshold) {
          // one bounded collect; min-root union-find; same output contract
          import spark.implicits._
          val es = und.as[(Long, Long)].collect()
          val parent = scala.collection.mutable.HashMap.empty[Long, Long]
          def find(x: Long): Long = {
            var r = x
            while (parent.getOrElse(r, r) != r) r = parent(r)
            var c = x
            while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
            r
          }
          es.foreach { case (a, b) =>
            val (ra, rb) = (find(a), find(b))
            if (ra != rb) {
              if (ra < rb) parent(rb) = ra else parent(ra) = rb
            }
          }
          val nodes = es.iterator.flatMap { case (a, b) => Iterator(a, b) }.toSet
          return (nodes.toSeq.map(v => (v, find(v))).toDF("node", "cluster_id"), 1)
        }
        var lbl = und.select(col("a").as("node")).distinct()
          .select(col("node"), col("node").as("cluster_id"))
          .localCheckpoint()
        var converged = false
        var it = 0
        while (!converged && it < maxIters) {
          // Step 1 (hop): the node's previous label rides through the
          // aggregate (self rows carry it, neighbor rows carry null; min
          // ignores nulls and every node has exactly one self row), so
          // the change count needs no second join.
          val selfRows = lbl.select(col("node"), col("cluster_id"),
            col("cluster_id").as("__old"))
          val fromNeighbors = lbl.join(und, lbl("node") === und("a"))
            .select(und("b").as("node"), lbl("cluster_id"),
              lit(null).cast(lbl.schema("cluster_id").dataType).as("__old"))
          val hop = selfRows.unionByName(fromNeighbors)
            .groupBy("node").agg(min("cluster_id").as("cluster_id"),
              min("__old").as("__old"))
            .localCheckpoint(eager = false)
          // Step 2 (shortcut): L(v) ← min(L(v), L(L(v))). Labels are
          // always real node ids (mins of initial ids), so the lookup
          // side always matches; left+coalesce guards regardless. The
          // hop frame is lazily checkpointed, so the convergence count
          // below computes it ONCE and both join sides read the same
          // materialized blocks.
          val next = hop.as("h")
            .join(hop.select(col("node").as("__ln"), col("cluster_id").as("__lc")),
              col("h.cluster_id") === col("__ln"), "left")
            .select(col("h.node").as("node"),
              least(col("h.cluster_id"),
                coalesce(col("__lc"), col("h.cluster_id"))).as("cluster_id"),
              col("h.__old").as("__old"))
            .localCheckpoint(eager = false)
          // ONE job per round: this count materializes hop and next.
          val changed = next
            .filter(col("cluster_id") =!= col("__old")).count()
          lbl = next.select(col("node"), col("cluster_id"))
          converged = changed == 0
          it += 1
        }
        if (!converged)
          throw new IllegalStateException(
            s"ConnectedComponents: no fixpoint after $maxIters rounds")
        (lbl, it)
      } finally und.unpersist()
    }
  }
}
