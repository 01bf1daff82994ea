package graft

import org.apache.spark.sql.functions._

import graft.ops.ZOrder

/** Z-order layout: interleave correctness against a brute-force Morton
  * fold, the locality property the layout exists for (per-bucket spans
  * shrink on BOTH dims vs a single-column sort), the range-partitioned
  * plan shape, and the loud out-of-domain failure. */
class ZOrderSpec extends SparkSpec {
  import spark.implicits._

  private def morton(vals: Seq[Long], bits: Int): Long = {
    var z = 0L
    for (i <- vals.indices; k <- 0 until bits)
      z |= ((vals(i) >> k) & 1L) << (k * vals.size + i)
    z
  }

  test("zValue matches the brute-force Morton interleave (2 and 3 dims)") {
    val rows = for (a <- 0L until 16L; b <- 0L until 16L) yield (a, b)
    val got2 = rows.toDF("a", "b")
      .select(col("a"), col("b"), ZOrder.zValue(Seq(col("a"), col("b")), 4).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    rows.foreach { case (a, b) =>
      assert(got2((a, b)) == morton(Seq(a, b), 4), s"2-dim mismatch at ($a,$b)")
    }
    val rows3 = for (a <- 0L until 8L; b <- 0L until 8L; c <- 0L until 8L)
      yield (a, b, c)
    val got3 = rows3.toDF("a", "b", "c")
      .select(col("a"), col("b"), col("c"),
        ZOrder.zValue(Seq(col("a"), col("b"), col("c")), 3).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getLong(3)).toMap
    rows3.foreach { case (a, b, c) =>
      assert(got3((a, b, c)) == morton(Seq(a, b, c), 3))
    }
  }

  test("z-bucket spans stay narrow on BOTH dims; a 1-dim sort does not") {
    // full 64x64 grid, 16 buckets: z-order gives every bucket a 16x16
    // tile (span 15 on both dims); bucketing a-sorted data gives span
    // 63 on b in every bucket.
    val grid = (for (a <- 0L until 64L; b <- 0L until 64L) yield (a, b))
      .toDF("a", "b")
    val spans = ZOrder.pruningStats(grid, Seq("a", "b"), 6, 4)
      .select(col("bucket"), (col("a_max") - col("a_min")).as("sa"),
        (col("b_max") - col("b_min")).as("sb"), col("n_rows"))
      .collect()
    assert(spans.length == 16)
    spans.foreach { r =>
      assert(r.getAs[Long]("sa") == 15L && r.getAs[Long]("sb") == 15L,
        s"bucket ${r.get(0)} spans (${r.get(1)},${r.get(2)}), want (15,15)")
      assert(r.getAs[Long]("n_rows") == 256L)
    }
    // the counterfactual: bucket by a's top bits (single-dim layout) —
    // b's span is the full 63 everywhere
    val naive = grid.groupBy(shiftright(col("a"), 2).as("bucket"))
      .agg((max("b") - min("b")).as("sb")).collect()
    assert(naive.forall(_.getAs[Long]("sb") == 63L))
  }

  test("out-of-domain dimensions raise loudly instead of aliasing") {
    val e = intercept[Exception] {
      Seq((70L, 1L)).toDF("a", "b")
        .select(ZOrder.zValue(Seq(col("a"), col("b")), 6)).collect()
    }
    assert(e.getMessage.contains("z-order dimension out of"))
    intercept[IllegalArgumentException] {
      ZOrder.zValue(Seq(col("a"), col("b")), 32) // 64 bits: sign overflow
    }
    intercept[IllegalArgumentException] {
      ZOrder.zValue(Seq(col("a")), 8) // 1 dim is a plain sort
    }
  }
}
