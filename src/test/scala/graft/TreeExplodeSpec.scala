package graft

import graft.ops.TreeExplode

class TreeExplodeSpec extends SparkSpec {
  import spark.implicits._

  test("diamond DAG: converging paths sum their coefficient products") {
    // 1 -> 2 (x2), 1 -> 3 (x3), 2 -> 4 (x5), 3 -> 4 (x7)
    // eff(1,4) = 2*5 + 3*7 = 31
    val edges = Seq((1L, 2L, 2L), (1L, 3L, 3L), (2L, 4L, 5L), (3L, 4L, 7L))
      .toDF("parent", "child", "coeff")
    val roots = Seq(1L).toDF("root")
    val out = TreeExplode.explode(edges, roots)
      .as[(Long, Long, Long)].collect().map(r => (r._2, r._3)).toMap
    assert(out == Map(2L -> 2L, 3L -> 3L, 4L -> 31L))
  }

  test("multiple roots explode independently") {
    val edges = Seq((1L, 10L, 1L), (2L, 20L, 2L)).toDF("parent", "child", "coeff")
    val roots = Seq(1L, 2L).toDF("root")
    val out = TreeExplode.explode(edges, roots)
      .as[(Long, Long, Long)].collect().toSet
    assert(out == Set((1L, 10L, 1L), (2L, 20L, 2L)))
  }

  test("chain fixture: materialization rounds <= depth/2 + 2 (2-hop batching)") {
    // Depth-16 chain; per-level materialization would be 16 driver
    // round-trips, 2-hop batching must land it in <= 10. Structural
    // guard, variance-proof vs wall-clock.
    val d = 16
    val edges = (0L until d.toLong).map(i => (i, i + 1, 1L))
      .toDF("parent", "child", "coeff")
    val roots = Seq(0L).toDF("root")
    val (out, rounds) = TreeExplode.explodeWithRounds(edges, roots)
    val rows = out.as[(Long, Long, Long)].collect()
    assert(rows.length == d)                  // nodes 1..16 reachable from 0
    assert(rows.forall(_._3 == 1L))           // unit coefficients multiply to 1
    assert(rounds <= d / 2 + 2, s"BFS took $rounds rounds > bound ${d / 2 + 2}")
  }

  test("cycle raises instead of looping forever") {
    val edges = Seq((1L, 2L, 1L), (2L, 1L, 1L)).toDF("parent", "child", "coeff")
    val roots = Seq(1L).toDF("root")
    intercept[IllegalStateException] {
      TreeExplode.explode(edges, roots, maxDepth = 8).count()
    }
  }

  test("concurrent explodes restore the constraint-propagation conf, unset or set") {
    val key = "spark.sql.constraintPropagation.enabled"
    val edges = Seq((1L, 2L, 1L), (2L, 3L, 1L)).toDF("parent", "child", "coeff")
    def explodeAtOnce(): Unit = {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      try (1 to 4).map(_ => pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = TreeExplode.explode(edges, Seq(1L).toDF("root")).count()
      })).foreach(f => assert(f.get() == 2L))
      finally pool.shutdown()
    }
    try {
      spark.conf.unset(key)
      explodeAtOnce()
      assert(!spark.conf.getAll.contains(key), "an unset conf must stay unset")
      spark.conf.set(key, "true")
      explodeAtOnce()
      assert(spark.conf.getAll.get(key).contains("true"))
    } finally spark.conf.unset(key)
  }

  test("restores the constraint-propagation conf after the loop") {
    val key = "spark.sql.constraintPropagation.enabled"
    spark.conf.set(key, "true")
    val edges = Seq((1L, 2L, 1L)).toDF("parent", "child", "coeff")
    TreeExplode.explode(edges, Seq(1L).toDF("root")).count()
    assert(spark.conf.get(key) == "true")
  }
}
