package graft

import org.apache.spark.sql.functions._

/** The packed HLL register cells behind [[graft.ops.GraphRank.hyperBall]]:
  * graft_hllpack folds (bucket, rho) rows into one m-byte cell,
  * graft_bytemax unions cells elementwise, graft_unpack_bytes widens a
  * cell back to array<bigint> — equivalence with the row-per-bucket
  * layout plus the loud red paths. */
class ByteMaxAggSpec extends SparkSpec {
  import spark.implicits._

  test("hllpack: cell(bucket) = max rho; untouched buckets read zero") {
    val df = Seq((1L, 0L, 3L), (1L, 0L, 7L), (1L, 2L, 1L), (2L, 3L, 30L))
      .toDF("g", "bucket", "rho")
    val got = df.groupBy($"g")
      .agg(expr("graft_unpack_bytes(graft_hllpack(bucket, rho, 4))").as("a"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(got(1L) == Seq(7L, 0L, 1L, 0L))
    assert(got(2L) == Seq(0L, 0L, 0L, 30L))
  }

  test("bytemax: elementwise max, deterministic across partitionings") {
    val cells = (1 to 300).map { i =>
      (s"g${i % 3}", Array((i % 11).toByte, (i % 5).toByte, ((i * 7) % 13).toByte))
    }.toDF("g", "cell")
    def run(parts: Int) = cells.repartition(parts).groupBy($"g")
      .agg(expr("graft_unpack_bytes(graft_bytemax(cell))").as("a"))
      .orderBy($"g").as[(String, Seq[Long])].collect().toSeq
    val one = run(1)
    assert(run(13) == one)
    // model: per-group elementwise max
    val model = (1 to 300)
      .map(i => (s"g${i % 3}", Seq((i % 11).toLong, (i % 5).toLong, ((i * 7) % 13).toLong)))
      .groupBy(_._1).view.mapValues(_.map(_._2).transpose(identity).map(_.max))
      .toMap
    one.foreach { case (g, a) => assert(a == model(g), g) }
  }

  test("packed layout == row-per-bucket layout on the same observations") {
    val obs = (1 to 500).map(i => ("g", (i % 64).toLong, ((i * 31) % 25).toLong))
      .toDF("g", "bucket", "rho")
    val packed = obs.groupBy($"g")
      .agg(expr("graft_unpack_bytes(graft_hllpack(bucket, rho, 64))").as("a"))
      .as[(String, Seq[Long])].head()._2
    val rows = obs.groupBy($"g", $"bucket").agg(max($"rho").as("r"))
      .as[(String, Long, Long)].collect().map(r => r._2 -> r._3).toMap
    assert(packed == (0L until 64L).map(b => rows.getOrElse(b, 0L)))
  }

  test("unpack widens unsigned: a 0xFF byte reads 255, not -1") {
    val got = Seq(Tuple1(Array(0xFF.toByte, 0x00.toByte, 0x7F.toByte)))
      .toDF("cell")
      .select(expr("graft_unpack_bytes(cell)").as("a"))
      .as[Seq[Long]].head()
    assert(got == Seq(255L, 0L, 127L))
  }

  test("red paths: mixed widths, bucket out of range, rho past 127 all raise") {
    val mixed = Seq(Tuple1(Array(1.toByte)), Tuple1(Array(1.toByte, 2.toByte)))
      .toDF("cell")
    val e1 = intercept[Exception] {
      mixed.agg(expr("graft_bytemax(cell)")).collect()
    }
    assert(e1.getMessage != null)
    val badBucket = Seq((9L, 3L)).toDF("bucket", "rho")
    val e2 = intercept[Exception] {
      badBucket.agg(expr("graft_hllpack(bucket, rho, 4)")).collect()
    }
    assert(e2.getMessage != null)
    val badRho = Seq((1L, 128L)).toDF("bucket", "rho")
    val e3 = intercept[Exception] {
      badRho.agg(expr("graft_hllpack(bucket, rho, 4)")).collect()
    }
    assert(e3.getMessage != null)
    // in-bound control right at the fences
    val ok = Seq((3L, 127L)).toDF("bucket", "rho")
      .agg(expr("graft_unpack_bytes(graft_hllpack(bucket, rho, 4))").as("a"))
      .as[Seq[Long]].head()
    assert(ok == Seq(0L, 0L, 0L, 127L))
  }

  test("swarmax == lane-wise max on seeded random lanes (incl. 0 and 127 fences)") {
    val rnd = new scala.util.Random(7)
    def pack(lanes: Seq[Long]): Long =
      lanes.zipWithIndex.map { case (v, i) => v << (8 * i) }.reduce(_ | _)
    val cases = (1 to 500).map { _ =>
      (Seq.fill(8)(rnd.nextInt(128).toLong), Seq.fill(8)(rnd.nextInt(128).toLong))
    } :+ ((Seq.fill(8)(0L), Seq.fill(8)(127L))) :+ ((Seq.fill(8)(127L), Seq.fill(8)(0L)))
    val df = cases.map { case (a, b) => (pack(a), pack(b)) }.toDF("a", "b")
    val got = df.selectExpr("graft_swarmax(a, b)").as[Long].collect()
    cases.zip(got).foreach { case ((a, b), g) =>
      assert(g == pack(a.zip(b).map { case (x, y) => math.max(x, y) }),
        s"lanes $a vs $b")
    }
  }

  test("packmax: lane-wise max across partitionings == the hllpack binary twin") {
    val obs = (1 to 500).map(i => ("g", (i % 64).toLong, ((i * 31) % 25).toLong))
      .toDF("g", "bucket", "rho")
    def packed(parts: Int): Seq[Long] = obs.repartition(parts)
      .select($"g",
        expr("transform(sequence(0, 7), i -> " +
          "IF(bucket DIV 8 = i, shiftleft(rho, cast(8 * (bucket % 8) AS int)), 0L))")
          .as("regs"))
      .groupBy($"g").agg(expr("graft_packmax(regs, 8)").as("regs"))
      .selectExpr("flatten(transform(regs, L -> transform(sequence(0, 7), " +
        "j -> shiftright(L, cast(8 * j AS int)) & 255)))")
      .as[Seq[Long]].head()
    val one = packed(1)
    assert(packed(13) == one)
    val viaBinary = obs.groupBy($"g")
      .agg(expr("graft_unpack_bytes(graft_hllpack(bucket, rho, 64))").as("a"))
      .as[(String, Seq[Long])].head()._2
    assert(one == viaBinary, "long-lane layout must equal the binary-cell layout")
  }

  test("bytemax skips NULL cells; an all-NULL group reads NULL") {
    val df = Seq(("a", Some(Array(2.toByte))), ("a", None), ("b", None))
      .toDF("g", "cell")
    val got = df.groupBy($"g").agg(expr("graft_bytemax(cell)").as("m"))
      .as[(String, Option[Array[Byte]])].collect().toMap
    assert(got("a").get.toSeq == Seq(2.toByte))
    assert(got("b").isEmpty)
  }
}
