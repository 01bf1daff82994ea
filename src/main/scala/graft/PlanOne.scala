package graft

/** Dev-only: print `explain("formatted")` for the named queries — the
  * before/after plan evidence `plans/r10/` captures for every query an
  * optimization round touches.
  *
  * Usage: runMain graft.PlanOne <q1,q2,...> [sfDir]
  */
object PlanOne {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("usage: runMain graft.PlanOne <q1,q2,...> [sfDir]")
      sys.exit(2)
    }
    val names = args(0).split(",").toSeq.filter(_.nonEmpty)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark = RunnerSession.create()
    names.foreach { n =>
      println(s"===== $n (initial plan, pre-AQE, at $sfDir)")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
