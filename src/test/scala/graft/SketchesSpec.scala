package graft

import org.apache.spark.sql.functions._

import graft.ops.Sketches

class SketchesSpec extends SparkSpec {
  import spark.implicits._

  test("KMV is exact below saturation") {
    val df = (1 to 10).flatMap(i => Seq(("a", s"v$i"), ("a", s"v$i")))
      .toDF("g", "v") // 10 distinct values, each twice
    val out = Sketches.kmvDistinct(df, "g", col("v"), k = 64)
      .as[(String, Long, Long)].head()
    assert(out == (("a", 10L, 10L)))
  }

  test("KMV estimate lands within the O(1/sqrt(k)) band at saturation") {
    val n = 5000
    val df = (1 to n).map(i => ("g", s"value$i")).toDF("g", "v")
    val (_, kept, est) = Sketches.kmvDistinct(df, "g", col("v"), k = 64)
      .as[(String, Long, Long)].head()
    assert(kept == 64L)
    // 3/sqrt(64) = 37.5% — generous three-sigma band for one draw
    assert(math.abs(est.toDouble / n - 1.0) < 0.375,
      s"estimate $est too far from $n")
  }

  test("sketch is deterministic across partitionings") {
    val df = (1 to 2000).map(i => (s"g${i % 3}", s"tok$i")).toDF("g", "v")
    val a = Sketches.kmvDistinct(df.repartition(1), "g", col("v"))
      .orderBy("g").as[(String, Long, Long)].collect().toSeq
    val b = Sketches.kmvDistinct(df.repartition(13), "g", col("v"))
      .orderBy("g").as[(String, Long, Long)].collect().toSeq
    assert(a == b)
  }

  test("count-min: wide sketch is exact, narrow one only ever OVER-estimates") {
    val docs = (1 to 400).map(i => (i.toLong, s"alpha beta tok${i % 50}"))
      .toDF("doc_id", "text")
    // width 4096 ≫ 52 distinct tokens: collision-free, est == exact
    val wide = Sketches.countMinHeavyHitters(docs, "text", 3, 4096)
      .as[(String, Long, Long)].collect()
    assert(wide.nonEmpty && wide.forall { case (_, ex, est) => est == ex })
    // width 8 < 52 tokens: collisions guaranteed; min-over-rows must
    // still never drop below truth
    val narrow = Sketches.countMinHeavyHitters(docs, "text", 3, 8)
      .as[(String, Long, Long)].collect()
    assert(narrow.forall { case (_, ex, est) => est >= ex })
    assert(narrow.exists { case (_, ex, est) => est > ex })
  }

  test("pairwise KMV jaccard: exact below saturation, near truth above") {
    // BELOW saturation (< k distinct per corpus) the pooled sketch IS
    // the full union, so the estimate must be the exact jaccard.
    val small = ((1 to 30).map(i => ("x", s"v$i")) ++
      (11 to 40).map(i => ("y", s"v$i"))).toDF("g", "v")
    val exact = Sketches.kmvPairwiseJaccard(small, "g", col("v"), k = 64)
      .as[(String, String, Long, Long, Long)].collect()
    // |x∩y| = 20 (v11..v30), |x∪y| = 40 → 500000 ppm exactly
    assert(exact.toSeq == Seq(("x", "y", 40L, 20L, 500000L)))
    // ABOVE saturation: overlapping ranges with true jaccard 1/3; the
    // k=64 estimate must land within the sketch's error bar (~3/√k)
    val big = ((1 to 2000).map(i => ("x", s"v$i")) ++
      (1001 to 3000).map(i => ("y", s"v$i"))).toDF("g", "v")
    val est = Sketches.kmvPairwiseJaccard(big, "g", col("v"), k = 64)
      .as[(String, String, Long, Long, Long)].collect().head
    assert(est._3 == 64L)
    val ppm = est._5
    assert(math.abs(ppm - 333333L) < 375000L * 3 / 8, // 3/√64 = 0.375
      s"estimate $ppm ppm too far from 333333")
  }

  test("count-min cell matrix is bounded and mergeable (sum of halves = whole)") {
    val docs = (1 to 300).map(i => (i.toLong, s"w${i % 40} w${i % 17}"))
      .toDF("doc_id", "text")
    val cells = Sketches.countMinCells(docs, "text", 3, 16)
      .as[(Int, Long, Long)].collect()
    assert(cells.length <= 3 * 16)
    val half1 = Sketches.countMinCells(docs.filter(col("doc_id") <= 150), "text", 3, 16)
      .as[(Int, Long, Long)].collect().map { case (j, c, n) => (j, c) -> n }.toMap
    val half2 = Sketches.countMinCells(docs.filter(col("doc_id") > 150), "text", 3, 16)
      .as[(Int, Long, Long)].collect().map { case (j, c, n) => (j, c) -> n }.toMap
    val merged = (half1.keySet ++ half2.keySet).map(k =>
      k -> (half1.getOrElse(k, 0L) + half2.getOrElse(k, 0L))).toMap
    assert(merged == cells.map { case (j, c, n) => (j, c) -> n }.toMap)
  }

  test("HLL registers: bounded, deterministic, mergeable (max of halves = whole)") {
    val df = (1 to 3000).map(i => (s"g${i % 2}", s"user${i % 700}")).toDF("g", "v")
    val whole = Sketches.hllRegisters(df, "g", col("v"), p = 6)
      .as[(String, Long, Long)].collect()
    assert(whole.length <= 2 * 64)
    assert(whole.forall { case (_, b, r) => b >= 0 && b < 64 && r >= 1 && r <= 30 })
    // determinism across partitionings
    val re = Sketches.hllRegisters(df.repartition(13), "g", col("v"), p = 6)
      .as[(String, Long, Long)].collect()
    assert(whole.toSet == re.toSet)
    // merge = elementwise max of the halves' registers
    val h1 = Sketches.hllRegisters(df.limit(1500), "g", col("v"), p = 6)
      .as[(String, Long, Long)].collect().map { case (g, b, r) => (g, b) -> r }.toMap
    val h2 = Sketches.hllRegisters(df.except(df.limit(1500)), "g", col("v"), p = 6)
      .as[(String, Long, Long)].collect().map { case (g, b, r) => (g, b) -> r }.toMap
    val merged = (h1.keySet ++ h2.keySet).map(k =>
      k -> math.max(h1.getOrElse(k, 0L), h2.getOrElse(k, 0L))).toMap
    assert(merged == whole.map { case (g, b, r) => (g, b) -> r }.toMap)
  }

  test("HLL estimate lands within the ~1.04/sqrt(m) band") {
    val n = 20000
    val df = (1 to n).map(i => ("g", s"item$i")).toDF("g", "v")
    val regs = Sketches.hllRegisters(df, "g", col("v"), p = 6)
    val (_, occ, est) = Sketches.hllEstimate(regs, "g", p = 6)
      .as[(String, Long, Long)].head()
    assert(occ == 64L) // all buckets hit at 20k >> 64
    // 1.04/sqrt(64) = 13% standard error; allow 3 sigma + bias slack
    assert(math.abs(est.toDouble / n - 1.0) < 0.45,
      s"HLL estimate $est too far from $n")
  }

  test("hllOverlap: register-level model, identical groups read jaccard 1e6") {
    // A and C hold the SAME user set (identical sketches); B overlaps
    // A on half its users.
    val rows = (1 to 1000).map(i => ("A", s"u$i")) ++
      (1 to 1000).map(i => ("C", s"u$i")) ++
      (1 to 1000).map(i => ("B", s"u${i + 500}"))
    val regs = Sketches.hllRegisters(rows.toDF("g", "v"), "g", col("v"), p = 6)
    val got = Sketches.hllOverlap(regs, "g", p = 6)
      .as[(String, String, Long, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r).toMap
    // A == C: union sketch = the shared sketch, intersect = est, J = 1e6
    val ac = got(("A", "C"))
    assert(ac._3 == ac._4 && ac._4 == ac._5 && ac._6 == ac._3
      && ac._7 == 1000000L)
    // exact register-level model for every pair
    val regRows = regs.as[(String, Long, Long)].collect()
    val byG = regRows.groupBy(_._1).view
      .mapValues(_.map(r => r._2 -> r._3).toMap).toMap
    def est(m: Map[Long, Long]): Long = {
      val s = m.values.map(r => BigInt(1) << (30 - r.toInt)).sum +
        BigInt(64 - m.size) * (BigInt(1) << 30)
      ((BigInt(709) * 64 * 64 * (BigInt(1) << 30)) / (1000 * s)).toLong
    }
    for (a <- Seq("A", "B"); b <- Seq("B", "C") if a < b) {
      val u = (byG(a).keySet ++ byG(b).keySet).map(k =>
        k -> math.max(byG(a).getOrElse(k, 0L), byG(b).getOrElse(k, 0L))).toMap
      val (ea, eb, eu) = (est(byG(a)), est(byG(b)), est(u))
      val exp = (a, b, ea, eb, eu, math.max(0L, ea + eb - eu),
        if (eu == 0) 0L else math.max(0L, ea + eb - eu) * 1000000L / eu)
      assert(got((a, b)) == exp, s"pair ($a,$b)")
    }
    // the half-overlap pair reads a mid-range Jaccard, not 0 or 1
    val ab = got(("A", "B"))
    assert(ab._7 > 100000L && ab._7 < 900000L,
      s"half-overlap jaccard out of band: ${ab._7}")
  }

  test("cmJoinCardinality: exact on small key sets, estimate never below exact") {
    // A: key counts a=3, b=2; B: a=1, b=4, c=9 -> exact 3*1 + 2*4 = 11
    val a = (Seq.fill(3)("a") ++ Seq.fill(2)("b")).toDF("k")
    val b = (Seq.fill(1)("a") ++ Seq.fill(4)("b") ++ Seq.fill(9)("c")).toDF("k")
    val r = Sketches.cmJoinCardinality(a, col("k"), b, col("k"))
      .as[(Long, Long, Long)].collect().head
    assert(r._1 == 11L)
    assert(r._2 >= r._1)
    assert(r._3 == (r._2 - r._1) * 1000000L / 11L)
    // disjoint keys: exact 0, err NULL
    val d = Seq("zz").toDF("k")
    val r2 = Sketches.cmJoinCardinality(a, col("k"), d, col("k"))
      .select(col("exact"), col("cm_est")).as[(Long, Long)].collect().head
    assert(r2._1 == 0L)
  }

  test("qsketch cells: exact keys, bounded, mergeable (sum of halves = whole)") {
    // values spanning exponents 0..~40, plus zeros and exact small values
    val vals = (0 to 2000).map(i => (i.toLong,
      if (i % 50 == 0) 0L else (i.toLong * i * i) % (1L << 40)))
    val df = vals.toDF("id", "v")
    // every key obeys the cell grammar: e=-1 only with m=0; small e exact
    // (m = v < 2^e+1); large e normalized (m in [16, 32) for subBits=4)
    val keyed = Sketches.qsketchCells(df.select(lit("g").as("g"), col("v")),
      "g", col("v"), subBits = 4).as[(String, Long, Long, Long)].collect()
    assert(keyed.forall { case (_, e, m, _) =>
      if (e == -1L) m == 0L
      else if (e < 4L) m >= (1L << e) && m < (1L << (e + 1))
      else m >= 16L && m < 32L
    })
    // bounded: ≤ 1 zero cell + 16 exact cells + 16 per exponent 4..40
    assert(keyed.length <= 1 + 16 + 16 * 37)
    assert(keyed.map(_._4).sum == 2001L)
    // mergeable: half sketches sum to the whole
    val g = df.select(lit("g").as("g"), col("v"), col("id"))
    def cellMap(d: org.apache.spark.sql.DataFrame) =
      Sketches.qsketchCells(d, "g", col("v"), subBits = 4)
        .as[(String, Long, Long, Long)].collect()
        .map { case (_, e, m, n) => (e, m) -> n }.toMap
    val h1 = cellMap(g.filter(col("id") <= 1000))
    val h2 = cellMap(g.filter(col("id") > 1000))
    val merged = (h1.keySet ++ h2.keySet).map(k =>
      k -> (h1.getOrElse(k, 0L) + h2.getOrElse(k, 0L))).toMap
    assert(merged == cellMap(g))
    // deterministic across partitionings
    assert(cellMap(g.repartition(13)) == cellMap(g))
  }

  test("qsketch quantiles: the true quantile lies inside the chosen cell") {
    // adversarial mix: heavy ties, zeros, powers of two, wide spread
    val vals = (1 to 5000).map(i => ("g", ((i.toLong * 2654435761L) % (1L << 30))))
      .toDF("g", "v")
    val pcts = Seq(1, 10, 25, 50, 75, 90, 99, 100)
    val cells = Sketches.qsketchCells(vals, "g", col("v"), subBits = 4)
    val out = Sketches.qsketchQuantiles(cells, "g", pcts, subBits = 4)
      .as[(String, Long, Long, Long, Long)].collect()
      .map { case (_, p, n, est, w) => p -> ((n, est, w)) }.toMap
    assert(out.keySet == pcts.map(_.toLong).toSet)
    val sorted = vals.as[(String, Long)].collect().map(_._2).sorted
    pcts.foreach { p =>
      val (n, est, w) = out(p.toLong)
      assert(n == 5000L)
      val exact = sorted(((5000L * p + 99) / 100 - 1).toInt) // type-1 quantile
      assert(est <= exact && exact < est + w,
        s"p$p: exact $exact outside cell [$est, ${est + w})")
      assert(w <= math.max(est >> 4, 1L) * 2, // width ≤ 2^-4 relative (est ≥ 16·w/2)
        s"p$p: cell width $w too wide for lower bound $est")
    }
    // all-zero group: every quantile is the sentinel cell [0, 1)
    val zeros = (1 to 10).map(_ => ("z", 0L)).toDF("g", "v")
    val zq = Sketches.qsketchQuantiles(
        Sketches.qsketchCells(zeros, "g", col("v")), "g", Seq(50, 100))
      .as[(String, Long, Long, Long, Long)].collect()
    assert(zq.forall { case (_, _, n, est, w) => n == 10L && est == 0L && w == 1L })
  }

  test("qsketch weighted: weight-1 equals unweighted; weighted quantile in-cell") {
    val rows = (1 to 2000).map(i =>
      ("g", (i.toLong * 7919L) % 50000L, (i % 13).toLong))
    val df = rows.toDF("g", "v", "w")
    // weight ≡ 1 must be byte-identical to the unweighted build
    val unit = Sketches.qsketchCellsWeighted(
        df.withColumn("w", org.apache.spark.sql.functions.lit(1L)),
        "g", col("v"), col("w"))
      .as[(String, Long, Long, Long)].collect().toSet
    val plain = Sketches.qsketchCells(df, "g", col("v"))
      .as[(String, Long, Long, Long)].collect().toSet
    assert(unit == plain)
    // weighted cells sum the weights
    val wcells = Sketches.qsketchCellsWeighted(df, "g", col("v"), col("w"))
      .as[(String, Long, Long, Long)].collect()
    assert(wcells.map(_._4).sum == rows.map(_._3).sum)
    // weighted p50/p99: the exact weighted type-1 quantile (first value
    // whose cumulative weight reaches ceil(pct·W/100)) lies in the cell
    val out = Sketches.qsketchQuantiles(
        Sketches.qsketchCellsWeighted(df, "g", col("v"), col("w")),
        "g", Seq(50, 99))
      .as[(String, Long, Long, Long, Long)].collect()
      .map { case (_, p, n, est, w) => p -> ((n, est, w)) }.toMap
    val totalW = rows.map(_._3).sum
    val sortedVW = rows.map(r => (r._2, r._3)).sortBy(_._1)
    Seq(50L, 99L).foreach { p =>
      val (n, est, w) = out(p)
      assert(n == totalW)
      val need = (totalW * p + 99) / 100
      var cum = 0L
      val exact = sortedVW.find { case (_, wt) => { cum += wt; cum >= need } }.get._1
      assert(est <= exact && exact < est + w,
        s"weighted p$p: exact $exact outside [$est, ${est + w})")
    }
    // negative weight raises loudly
    val bad = Seq(("g", 5L, -1L)).toDF("g", "v", "w")
    val ex = intercept[Exception] {
      Sketches.qsketchCellsWeighted(bad, "g", col("v"), col("w")).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: msgs(e.getCause))
    assert(msgs(ex).exists(m => m != null && m.contains("qsketch weight out of")))
  }

  test("qsketch quantile read survives cum*100 past the long range") {
    // Three cells with 4e17 weight each: total weight 1.2e18 fits a
    // long, but cum·100 = 1.2e20 does NOT — a long cross-multiply
    // wraps negative and silently excludes every qualifying cell. The
    // DECIMAL(38,0) comparison must keep picking the true cells.
    val w = 400000000000000000L // 4e17
    val df = Seq(("g", 100L, w), ("g", 1000L, w), ("g", 10000L, w))
      .toDF("g", "v", "w")
    val out = Sketches.qsketchQuantiles(
        Sketches.qsketchCellsWeighted(df, "g", col("v"), col("w")),
        "g", Seq(34, 67, 100))
      .as[(String, Long, Long, Long, Long)].collect()
      .map { case (_, p, n, est, wd) => p -> ((n, est, wd)) }.toMap
    assert(out(34L)._1 == 3 * w)
    // p34 needs cum ≥ ceil(.34·3w) > w → second value's cell (1000);
    // p67 → third (10000); p100 → third
    Seq(34L -> 1000L, 67L -> 10000L, 100L -> 10000L).foreach { case (p, v) =>
      val (_, est, wd) = out(p)
      assert(est <= v && v < est + wd, s"p$p: $v outside [$est, ${est + wd})")
    }
  }

  test("qsketch rejects negative values loudly") {
    val df = Seq(("g", -3L)).toDF("g", "v")
    val ex = intercept[Exception] {
      Sketches.qsketchCells(df, "g", col("v")).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: messages(e.getCause))
    assert(messages(ex).exists(m => m != null && m.contains("qsketch value out of")))
  }

  test("heavyHittersExact == groupBy-HAVING model; deterministic across partitionings") {
    // 4 hot items (~300 each) over a 200-item light tail (~6 each):
    // N = 2400, k = 63 → bound N/64 = 37.5; threshold 100 qualifies
    val rows = (1 to 2400).map { i =>
      if (i % 2 == 0) s"hot_${i % 8 / 2}" else s"cold_${i % 200}"
    }
    val model = rows.groupBy(identity).view.mapValues(_.size.toLong)
      .filter(_._2 >= 100L).toMap
    assert(model.size == 4, s"fixture must have 4 heavy items: $model")
    Seq(1, 7).foreach { parts =>
      val df = rows.toDF("v").repartition(parts)
      val got = Sketches.heavyHittersExact(df, col("v"), k = 63, minCount = 100L)
        .as[(String, Long)].collect().toMap
      assert(got == model, s"parts=$parts")
    }
  }

  test("heavyHittersExact: sub-guarantee threshold raises loudly; the fence passes") {
    val df = (1 to 1000).map(i => s"v${i % 50}").toDF("v")
    // N = 1000, k = 9 → N/(k+1) = 100: minCount 100 fails 100*10 > 1000
    val ex = intercept[IllegalArgumentException] {
      Sketches.heavyHittersExact(df, col("v"), k = 9, minCount = 100L)
    }
    assert(ex.getMessage.contains("must exceed N/(k+1)"))
    // one past the fence: 101*10 = 1010 > 1000 — runs (and finds nothing:
    // every item appears 20 times)
    assert(Sketches.heavyHittersExact(df, col("v"), k = 9, minCount = 101L)
      .count() == 0)
  }

  test("heavyHittersByWeightShare == weighted groupBy-HAVING model across partitionings") {
    // 3 heavy items carry weight 900 each over a 60-item light tail
    // (weight ~15 each): W = 3600, share 10% → threshold 360
    val rows = (1 to 360).flatMap { i =>
      if (i % 4 == 0) Seq((s"big_${i % 12 / 4}", 30L)) else Seq((s"tail_${i % 60}", 5L))
    }
    val model = rows.groupBy(_._1).view.mapValues(_.map(_._2).sum)
      .filter { case (_, w) => w * 1000000L >= 100000L * rows.map(_._2).sum }
      .toMap
    assert(model.size == 3, s"fixture wants 3 heavy items: $model")
    Seq(1, 11).foreach { parts =>
      val got = Sketches.heavyHittersByWeightShare(
          rows.toDF("v", "w").repartition(parts),
          col("v"), col("w"), k = 15, sharePpm = 100000L)
        .as[(String, Long)].collect().toMap
      assert(got == model, s"parts=$parts")
    }
  }

  test("weighted MG red paths: zero/negative/oversized weights raise; sub-guarantee share raises") {
    val ex = intercept[Exception] {
      Seq(("a", 0L)).toDF("v", "w")
        .agg(expr("graft_mgw(v, w, 4)")).collect()
    }
    assert(ex.getMessage != null)
    intercept[Exception] {
      Seq(("a", -5L)).toDF("v", "w")
        .agg(expr("graft_mgw(v, w, 4)")).collect()
    }
    intercept[Exception] {
      Seq(("a", 9000000000001L)).toDF("v", "w")
        .agg(expr("graft_mgw(v, w, 4)")).collect()
    }
    // guarantee fence: share 10% needs k+1 > 10
    val df = Seq(("a", 1L)).toDF("v", "w")
    val e2 = intercept[IllegalArgumentException] {
      Sketches.heavyHittersByWeightShare(df, col("v"), col("w"),
        k = 9, sharePpm = 100000L)
    }
    assert(e2.getMessage.contains("candidate set"))
    // one past the fence runs
    assert(Sketches.heavyHittersByWeightShare(df, col("v"), col("w"),
      k = 10, sharePpm = 100000L).count() == 1)
  }

  test("MG summary keeps every item past the N/(k+1) bound under any partitioning") {
    // adversarial interleave: heavy item arrives scattered between floods
    val rows = (1 to 3000).map(i => if (i % 3 == 0) "HEAVY" else s"n_$i")
    Seq(1, 17).foreach { parts =>
      val got = rows.toDF("v").repartition(parts)
        .agg(expr("graft_mg(v, 15)").as("s"))
        .selectExpr("transform(s, x -> x.item) AS items")
        .as[Seq[String]].head()
      // freq(HEAVY) = 1000 > N/(k+1) = 3000/16 = 187.5 → must survive
      assert(got.contains("HEAVY"), s"parts=$parts lost the heavy item: $got")
      assert(got.size <= 15, s"parts=$parts summary overflows k")
    }
  }
}
