package graft

/** Dev-only single-query harness: run one named query (repeatedly) with
  * the bench session config, print per-run wall seconds and row count.
  * Isolates a query's own cost from bench-order effects when a number
  * in BENCH_r0N.json needs a root cause.
  *
  * Usage: runMain graft.RunOne <queryName> [sfDir] [reps]
  */
object RunOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 1
    val spark = RunnerSession.create()
    val fn = SparkEntry.queries(name)
    (1 to reps).foreach { i =>
      registry.Memos.clearMemos()
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      println(f"[runone] $name rep $i: ${(System.nanoTime() - t0) / 1e9}%.2f s, $n rows")
    }
    spark.stop()
  }
}
