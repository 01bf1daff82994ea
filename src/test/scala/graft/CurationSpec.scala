package graft

import org.apache.spark.sql.functions.{col, lit}

import graft.ops.Curation

class CurationSpec extends SparkSpec {
  import spark.implicits._

  test("curate: quality gate, exact dedup keep-min-id, near-dup representative only") {
    val base = "the quick brown fox jumps over the lazy dog while birds sing in the tall green trees near the quiet river bank every morning"
    val docs = Seq(
      (1L, base),                    // kept: representative of {1,2,3}
      (2L, base),                    // exact dup of 1 -> dropped
      (3L, base + " today"),         // near-dup of 1 (1 appended token) -> dropped
      (4L, "a b c d"),               // too few tokens -> dropped
      (5L, "123 456 789 012 345 678"), // alpha ratio 0 -> dropped
      (6L, "completely different text about computing machines and the history of mathematics in europe")
    ).toDF("doc_id", "text")
    val kept = Curation.curate(docs, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 6L))
  }

  test("curate: accented letters count as alphabetic in the quality gate") {
    // ~59% Unicode-letters incl. Ç/Ã/É/Á — ASCII-only alpha counting
    // would score it under 0.5 and silently drop a legitimate document
    val docs = Seq(
      (1L, "ALVENARIA DE VEDAÇÃO COM ÁGUA É ESSENCIAL À OBRA SEGUNDO OPINIÃO TÉCNICA")
    ).toDF("doc_id", "text")
    val kept = Curation.curate(docs, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L))
  }

  test("curate: near-dup clusters keep exactly their min id") {
    val t = "one two three four five six seven eight nine ten eleven twelve thirteen fourteen fifteen sixteen"
    val docs = Seq(
      (10L, t + " extra"),
      (11L, t),
      (12L, t + " extra trailing")).toDF("doc_id", "text")
    val kept = Curation.curate(docs, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(10L), s"cluster must collapse to its min id, got $kept")
  }

  test("mixture weights: sqrt-flattened shares, integer-exact, budget-bounded") {
    // 400 vs 100 docs: raw shares 80/20, sqrt-flattened 20/10 → ⅔/⅓
    val docs = ((1 to 400).map(i => (i.toLong, "en")) ++
      (1 to 100).map(i => (400L + i, "de"))).toDF("doc_id", "lang")
    val out = Curation.mixtureWeights(docs, "lang", 900L)
      .orderBy("lang").as[(String, Long, Long, Long)].collect().toSeq
    // sq(en)=20e6, sq(de)=10e6, tot=30e6
    assert(out == Seq(
      ("de", 100L, 333333L, 300L),
      ("en", 400L, 666666L, 600L)))
    assert(out.map(_._4).sum <= 900L)
  }

  test("weighted systematic sample == sequential-scan model, layout-independent") {
    val rnd = new scala.util.Random(83L)
    val rows = (1 to 500).map(i => (i.toLong, (rnd.nextInt(40) + 1).toLong))
    val df = rows.toDF("doc_id", "w")
    val step = 100L
    val got = Curation.weightedSystematicSample(df, "doc_id",
        org.apache.spark.sql.functions.col("w"), step)
      .as[(Long, Long, Long)].collect().toSet
    // model: sequential cumulative walk
    var cum = 0L
    val model = rows.flatMap { case (id, w) =>
      val before = cum; cum += w
      val hits = cum / step - before / step
      if (hits > 0) Some((id, w, hits)) else None
    }.toSet
    assert(got == model)
    // expected-rate sanity: ~ totalWeight/step selections
    assert(math.abs(model.size - cum / step) <= model.count(_._3 > 1) + 1)
    val got2 = Curation.weightedSystematicSample(df.repartition(13), "doc_id",
        org.apache.spark.sql.functions.col("w"), step)
      .as[(Long, Long, Long)].collect().toSet
    assert(got2 == model)
    // a row heavier than the step is ALWAYS selected, with multiplicity
    val heavy = (rows :+ (1000L, 350L)).toDF("doc_id", "w")
    val h = Curation.weightedSystematicSample(heavy, "doc_id",
        org.apache.spark.sql.functions.col("w"), step)
      .as[(Long, Long, Long)].collect().find(_._1 == 1000L)
    assert(h.exists(_._3 >= 3))
  }

  test("mixture sample: takes exactly alloc docs per group, layout-independent") {
    import graft.functions.TextFeatures
    val docs = ((1 to 400).map(i => (i.toLong, "en", s"text en $i")) ++
      (1 to 100).map(i => (400L + i, "de", s"text de $i")))
      .toDF("doc_id", "lang", "text")
    val out = Curation.mixtureSample(docs, "lang", "doc_id",
        TextFeatures.charHash(org.apache.spark.sql.functions.col("text")), 900L)
      .select("lang", "doc_id").as[(String, Long)].collect()
    // allocs from the weights test: en 600, de 300
    assert(out.count(_._1 == "en") == 400) // capped by group size
    assert(out.count(_._1 == "de") == 100)
    val out2 = Curation.mixtureSample(docs.repartition(11), "lang", "doc_id",
        TextFeatures.charHash(org.apache.spark.sql.functions.col("text")), 900L)
      .select("lang", "doc_id").as[(String, Long)].collect()
    assert(out.toSet == out2.toSet)
  }

  test("source quality gate: whole sources drop; truncating ppm means are exact") {
    // good: "the data" → alpha 7/8 = 875000 ppm, stop 1/2 = 500000 →
    //   doc score (875000+500000)/2 = 687500; both docs identical → src 687500
    // bad: "12 34 !!" → alpha 0, stop 0 → score 0; with "a1 b2" →
    //   alpha 2/5 = 400000, stop 0 → 200000; src mean (0+200000)/2 = 100000
    // empty doc in good must be EXCLUDED, not scored as 0
    val docs = Seq(
      (1L, "good", "the data"), (2L, "good", "the data"), (3L, "good", "  "),
      (4L, "bad", "12 34 !!"), (5L, "bad", "a1 b2")
    ).toDF("doc_id", "source", "text")
    val out = Curation.sourceQualityFilter(docs, "doc_id", "text", "source", 400000L)
      .as[(Long, String, Long)].collect().sorted.toSeq
    assert(out == Seq((1L, "good", 687500L), (2L, "good", 687500L)))
    // threshold above every source → empty, below → all scored docs
    assert(Curation.sourceQualityFilter(docs, "doc_id", "text", "source", 700000L)
      .count() == 0L)
    assert(Curation.sourceQualityFilter(docs, "doc_id", "text", "source", 0L)
      .count() == 4L)
  }

  test("assignShards: contiguous, balanced within one max weight, layout-independent") {
    val rnd = new scala.util.Random(42L)
    val docs = (1 to 500).map(i => (i.toLong, (rnd.nextInt(90) + 10).toLong))
      .toDF("doc_id", "w")
    val out = Curation.assignShards(docs, "doc_id", col("w"), nShards = 8)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(out.map(_._3).distinct.sorted == (0L to 7L)) // all shards used
    // contiguity: shard ids are non-decreasing in doc order
    assert(out.map(_._3) == out.map(_._3).sorted)
    // balance: every shard within one max doc weight of total/8
    val totals = out.groupBy(_._3).view.mapValues(_.map(_._2).sum)
    val ideal = out.map(_._2).sum / 8.0
    val maxW = out.map(_._2).max
    totals.values.foreach(t => assert(math.abs(t - ideal) <= maxW,
      s"shard total $t vs ideal $ideal exceeds max weight $maxW"))
    // layout independence
    val re = Curation.assignShards(docs.repartition(11), "doc_id", col("w"), 8)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(re == out)
  }

  test("maxCoverSelect matches the brute-force greedy model, ties to smaller id") {
    val rnd = new scala.util.Random(19)
    val vocab = (0 until 30).map(i => s"w$i")
    val docs = (1L to 40L).map { id =>
      (id, (0 until rnd.nextInt(8) + 2).map(_ => vocab(rnd.nextInt(30))).mkString(" "))
    }.toDF("doc_id", "text")
    def brute(rounds: Int): Seq[(Long, Long, Long)] = {
      val sets = docs.as[(Long, String)].collect()
        .map { case (id, t) => id -> t.split(" ").filter(_.nonEmpty).toSet }.toMap
      var covered = Set.empty[String]
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
      (1 to rounds).foreach { r =>
        val gains = sets.map { case (id, s) => id -> (s -- covered).size.toLong }
          .filter(_._2 > 0)
        if (gains.nonEmpty) {
          val (id, g) = gains.toSeq.minBy { case (i, g) => (-g, i) }
          out += ((r.toLong, id, g)); covered ++= sets(id)
        }
      }
      out.toSeq
    }
    val got = Curation.maxCoverSelect(docs.repartition(7), "doc_id", "text", rounds = 6)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == brute(6))
  }

  test("maxCoverSelect stops early when the universe is exhausted") {
    val docs = Seq((1L, "a b"), (2L, "b c"), (3L, "a c")).toDF("doc_id", "text")
    val got = Curation.maxCoverSelect(docs, "doc_id", "text", rounds = 5)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    // pick 1: doc 1 (gain 2, min id among 2-gain docs); pick 2: doc 2
    // covers c (gain 1); then nothing remains — 2 rows, not 5
    assert(got == Seq((1L, 1L, 2L), (2L, 2L, 1L)))
  }

  test("tokenDropout: hash-replayed keeps, variant divergence, bounds hold") {
    val docs = Seq((1L, "a b c d e f g h i j"), (2L, "x y z"))
      .toDF("doc_id", "text")
    def model(id: Long, n: Int, variant: Int, drop: Int): Seq[Int] =
      (0 until n).filter { i =>
        ((id % 1000003L) * 8191L + ((i + 31L * variant) % 1000003L) * 127L
          + 524287L) % 1000003L % 1000L >= drop }
    val out = Curation.tokenDropout(docs, "doc_id", "text", 300, 1)
      .as[(Long, Long, String, Long, Long)].collect().map(r => r._1 -> r).toMap
    val toks1 = "a b c d e f g h i j".split(" ")
    val kept1 = model(1L, 10, 1, 300).map(toks1(_))
    assert(out(1L)._3 == kept1.mkString(" ") && out(1L)._5 == kept1.size)
    assert(out(1L)._4 == 10L && out(1L)._2 == 1L)
    val toks2 = "x y z".split(" ")
    val kept2 = model(2L, 3, 1, 300).map(toks2(_))
    assert(out(2L)._3 == kept2.mkString(" "))
    // a different variant drops a different mask (with high probability
    // on 10 tokens at 30%) — and zero rate keeps everything
    val v2 = Curation.tokenDropout(docs, "doc_id", "text", 300, 2)
      .as[(Long, Long, String, Long, Long)].collect().map(r => r._1 -> r._3).toMap
    assert(v2(1L) == model(1L, 10, 2, 300).map(toks1(_)).mkString(" "))
    val zero = Curation.tokenDropout(docs, "doc_id", "text", 0, 1)
      .as[(Long, Long, String, Long, Long)].collect().map(r => r._1 -> r._3).toMap
    assert(zero(1L) == "a b c d e f g h i j")
  }

  test("stratifiedKFold: exact balance per stratum, dense ranks, layout-independent") {
    val docs = (1L to 47L).map(i =>
      (i, s"document body $i", if (i % 3 == 0) "en" else "es"))
      .toDF("doc_id", "text", "lang")
    val out = Curation.stratifiedKFold(docs, "doc_id", "text", "lang", k = 5)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(out.size == 47)
    out.groupBy(_._1).foreach { case (lang, rows) =>
      val n = rows.size
      // dense ranks and folds cycling 0..4 in rank order
      assert(rows.sortBy(_._3).map(_._3) == (1L to n))
      rows.foreach(r => assert(r._4 == (r._3 - 1) % 5))
      // exact balance: fold sizes differ by at most 1
      val sizes = rows.groupBy(_._4).values.map(_.size)
      assert(sizes.max - sizes.min <= 1, s"$lang: $sizes")
    }
    // deterministic under re-layout
    val re = Curation.stratifiedKFold(docs.repartition(11), "doc_id", "text",
        "lang", k = 5)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(re.sortBy(r => (r._1, r._2)) == out.sortBy(r => (r._1, r._2)))
  }

  test("waterFillAlloc matches the iterative water-filling model at every budget") {
    // brute force: repeatedly cap groups below the equal share
    def brute(ns: Map[String, Long], budget: Long): Map[String, Long] = {
      var alloc = Map.empty[String, Long]
      var active = ns; var rem = budget
      var changed = true
      while (changed && active.nonEmpty) {
        val t = rem / active.size
        val capped = active.filter(_._2 <= t)
        if (capped.nonEmpty) {
          alloc ++= capped; rem -= capped.values.sum
          active = active -- capped.keys
        } else {
          alloc ++= active.keys.map(_ -> t); active = Map.empty
        }
        changed = capped.nonEmpty || active.isEmpty
      }
      alloc
    }
    val rows = Seq(("a", 50L), ("a", 50L), ("b", 300L), ("c", 1000L),
      ("d", 20L), ("e", 400L), ("e", 100L))
    val df = rows.toDF("g", "w")
    val ns = rows.groupBy(_._1).map { case (g, rs) => g -> rs.map(_._2).sum }
    for (budget <- Seq(0L, 99L, 120L, 500L, 1500L, 2000L, 5000L)) {
      val got = Curation.waterFillAlloc(df.repartition(3), "g", col("w"), budget)
        .as[(String, Long, Boolean, Long)].collect()
        .map(r => r._1 -> r._4).toMap
      assert(got == brute(ns, budget), s"budget $budget")
      val total = got.values.sum
      assert(total <= budget || got == ns, s"overspent at $budget")
    }
    // capped flag: at 500, d(20) a(100) b(300)? level check — just
    // assert flags agree with alloc == n
    val at500 = Curation.waterFillAlloc(df, "g", col("w"), 500L)
      .as[(String, Long, Boolean, Long)].collect()
    at500.foreach(r => assert(r._3 == (r._4 == r._2), r.toString))
  }

  test("perplexityBuckets: dense per-group ranks, exact thirds, score-ordered") {
    val rnd = new scala.util.Random(53)
    val docs = (1L to 40L).map { i =>
      val lang = if (i % 2 == 0) "en" else "es"
      // common bigrams for low ids, rare tails for high ids
      val body = (0 until 6).map(j => s"w${(i + j) % (if (i < 20) 4 else 17)}")
        .mkString(" ") + s" t${rnd.nextInt(30)}"
      (i, body, lang)
    }.toDF("doc_id", "text", "lang")
    val out = Curation.perplexityBuckets(docs, "doc_id", "text", "lang")
      .as[(String, Long, Long, Long, String)].collect().toSeq
    val byLang = out.groupBy(_._1)
    assert(byLang.keySet == Set("en", "es"))
    byLang.foreach { case (_, rows) =>
      val n = rows.size
      // dense contiguous ranks in (score desc, id asc) order
      assert(rows.sortBy(_._4).map(_._4) == (1L to n))
      val sorted = rows.sortBy(r => (-r._3, r._2))
      assert(sorted.map(_._4) == (1L to n))
      // buckets are the exact thirds of the rank order
      sorted.zipWithIndex.foreach { case (r, i) =>
        val expect = (3 * i) / n match {
          case 0 => "head"; case 1 => "middle"; case _ => "tail" }
        assert(r._5 == expect, s"rank ${i + 1} of $n")
      }
    }
    // layout independence of the distributed rank
    val re = Curation.perplexityBuckets(docs.repartition(13), "doc_id", "text", "lang")
      .as[(String, Long, Long, Long, String)].collect().toSeq
    assert(re.sortBy(r => (r._1, r._4)) == out.sortBy(r => (r._1, r._4)))
  }

  test("leakageSafeSplit: dup groups share one split, singletons match hashSplit") {
    val docs = (1L to 30L).map(i => (i, s"document body number $i")).toDF("doc_id", "text")
    // dup graph: {1,2,3} via chain, {10,11} — rest singletons
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val out = Curation.leakageSafeSplit(docs, "doc_id", "text", pairs)
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(out.size == 30)
    val byId = out.map(r => r._1 -> r).toMap
    // groups: min-id representative labels the whole component
    assert(Seq(1L, 2L, 3L).map(byId(_)._2).distinct == Seq(1L))
    assert(Seq(10L, 11L).map(byId(_)._2).distinct == Seq(10L))
    // the leakage property: one split per group
    assert(Seq(1L, 2L, 3L).map(byId(_)._4).distinct.size == 1)
    assert(Seq(10L, 11L).map(byId(_)._4).distinct.size == 1)
    // singletons reduce exactly to hashSplit's per-doc assignment
    val solo = Curation.hashSplit(docs.filter(col("doc_id") > 11), "doc_id", "text")
      .select(col("doc_id"), col("bucket"), col("split"))
      .as[(Long, Long, String)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    solo.foreach { case (id, (b, s)) =>
      assert(byId(id)._3 == b && byId(id)._4 == s, s"doc $id") }
    // layout independence
    val re = Curation.leakageSafeSplit(docs.repartition(13), "doc_id", "text",
      pairs.repartition(3)).as[(Long, Long, Long, String)].collect().toSeq
    assert(re.sortBy(_._1) == out.sortBy(_._1))
  }

  test("matchResample: capped per-bucket rates, deterministic keeps, empty reference") {
    val corpus = Seq(
      (1L, "w"), (2L, "w"), (3L, "w"), (4L, "w"),                 // bucket 0 x4
      (5L, (1 to 12).map(i => s"t$i").mkString(" ")),             // bucket 1
      (6L, (1 to 12).map(i => s"t$i").mkString(" "))              // bucket 1
    ).toDF("doc_id", "text")
    val ref = Seq((10L, "w"), (11L, (1 to 12).map(i => s"t$i").mkString(" ")))
      .toDF("doc_id", "text")
    val got = Curation.matchResample(corpus, ref, "doc_id", "text", 10)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    // bucket 0: min(1e6, 1e6*1*6/(4*2)) = 750000; bucket 1: capped at 1e6
    assert(got.map(_._2) == Seq(0L, 0L, 0L, 0L, 1L, 1L))
    assert(got.map(_._3) == Seq(750000L, 750000L, 750000L, 750000L, 1000000L, 1000000L))
    assert(got.forall(r => r._4 == 0L || r._4 == 1L))
    // rate-1e6 buckets keep everything (hash mod 1e6 < 1e6 always)
    assert(got.filter(_._2 == 1L).forall(_._4 == 1L))
    // determinism: same inputs, different layout, same keeps
    val again = Curation.matchResample(corpus.repartition(5), ref, "doc_id", "text", 10)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(again == got)
    // empty reference: nothing to match -> accept 0 everywhere
    val none = Curation.matchResample(corpus, ref.filter(lit(false)), "doc_id", "text", 10)
      .as[(Long, Long, Long, Long)].collect()
    assert(none.forall(r => r._3 == 0L && r._4 == 0L))
  }

  test("sourceInterleave: round-robin schedule, contiguous positions, layout-independent") {
    val docs = Seq(
      (1L, "alpha text one", "s1"), (2L, "beta text two", "s1"),
      (3L, "gamma text three", "s1"),
      (4L, "delta text four", "s2"), (5L, "epsilon text five", "s2")
    ).toDF("doc_id", "text", "source")
    val got = Curation.sourceInterleave(docs, "doc_id", "text", "source")
      .orderBy("global_pos")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(got.map(_._4) == (1L to 5L))
    // schedule = (rank 1: s1, s2), (rank 2: s1, s2), (rank 3: s1)
    assert(got.map(r => (r._3, r._2)) == Seq(
      (1L, "s1"), (1L, "s2"), (2L, "s1"), (2L, "s2"), (3L, "s1")))
    // each source's docs appear in hash order, all distinct
    assert(got.map(_._1).distinct.size == 5)
    val again = Curation.sourceInterleave(docs.repartition(7), "doc_id",
        "text", "source")
      .orderBy("global_pos").as[(Long, String, Long, Long)].collect().toSeq
    assert(again == got)
  }

  test("targetEncodeLoo: leave-one-out means, singleton NULL, sign-split") {
    val df = Seq(
      ("a", 1L, 10L), ("a", 2L, 20L), ("a", 3L, 33L),
      ("b", 4L, 5L),
      ("c", 5L, -7L), ("c", 6L, 4L)
    ).toDF("k", "id", "v")
    val out = Curation.targetEncodeLoo(df, Seq("k"), "id", col("v"))
      .select("k", "id", "v", "n", "loo_milli")
      .as[(String, Long, Long, Long, Option[Long])]
      .collect().map(r => r._2 -> r).toMap
    // a: sum 63 -> (63-10)*1000 div 2, (63-20)*1000 div 2, (63-33)*1000 div 2
    assert(out(1L)._5.contains(26500L))
    assert(out(2L)._5.contains(21500L))
    assert(out(3L)._5.contains(15000L))
    assert(out(4L)._5.isEmpty, "singleton key has no leave-one-out mean")
    // c: sum -3; (−3−(−7))=4 -> 4000; (−3−4)=−7 -> −7000 (sign-split)
    assert(out(5L)._5.contains(4000L))
    assert(out(6L)._5.contains(-7000L))
    assert(out(5L)._4 == 2L && out(4L)._4 == 1L, "n rides along")
  }

  test("targetEncodeLoo: truncation toward zero on both signs") {
    val df = Seq(
      ("p", 1L, 0L), ("p", 2L, 3L), ("p", 3L, 4L),   // id1: 7*1000 div 2 = 3500
      ("m", 4L, 0L), ("m", 5L, -3L), ("m", 6L, -4L)  // id4: -(7000 div 2) = -3500
    ).toDF("k", "id", "v")
    val out = Curation.targetEncodeLoo(df, Seq("k"), "id", col("v"))
      .select("id", "loo_milli").as[(Long, Option[Long])]
      .collect().toMap
    assert(out(1L).contains(3500L) && out(4L).contains(-3500L))
    // 1 div 3 case: (1)*1000 div 2 = 500 each way
    val df2 = Seq(("z", 1L, 0L), ("z", 2L, 0L), ("z", 3L, 1L)).toDF("k", "id", "v")
    val o2 = Curation.targetEncodeLoo(df2, Seq("k"), "id", col("v"))
      .select("id", "loo_milli").as[(Long, Option[Long])].collect().toMap
    assert(o2(1L).contains(500L) && o2(3L).contains(0L))
  }

  test("targetEncodeLoo: group-sum quantization bound raises loudly") {
    val df = Seq(("a", 1L, 5000000000000000L), ("a", 2L, 5000000000000000L))
      .toDF("k", "id", "v")
    val e = intercept[Throwable] {
      Curation.targetEncodeLoo(df, Seq("k"), "id", col("v")).collect()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("9e15 quantization bound"))
  }

  test("targetEncodeLoo: mixed-sign cancellation cannot sneak past the bound") {
    // |Σ| = 0 here, but (Σ − v)·1000 on either row would wrap a long —
    // the bound is on Σ|v|, so this raises instead of answering wrong.
    val df = Seq(("a", 1L, 8000000000000000L), ("a", 2L, -8000000000000000L))
      .toDF("k", "id", "v")
    val e = intercept[Throwable] {
      Curation.targetEncodeLoo(df, Seq("k"), "id", col("v")).collect()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("9e15 quantization bound"))
    // in-bound mixed-sign control: Σ|v| = 8e15 passes and the ×1000
    // encode stays inside long range on both rows
    val ok = Seq(("a", 1L, 4000000000000000L), ("a", 2L, -4000000000000000L))
      .toDF("k", "id", "v")
    val out = Curation.targetEncodeLoo(ok, Seq("k"), "id", col("v"))
      .select("id", "loo_milli").as[(Long, Option[Long])].collect().toMap
    assert(out(1L).contains(-4000000000000000000L))
    assert(out(2L).contains(4000000000000000000L))
  }

  test("rendezvousShard: minimal-move on growth, every shard occupied") {
    val keys = (0 until 600).map(_.toLong).toDF("k")
    val moved = keys.select(col("k"),
        Curation.rendezvousShard(col("k"), 5).as("a"),
        Curation.rendezvousShard(col("k"), 6).as("b"))
      .filter(col("a") =!= col("b"))
      .as[(Long, Long, Long)].collect()
    assert(moved.nonEmpty, "some keys must move on growth")
    // the HRW guarantee: growth moves keys ONLY to the new shard
    assert(moved.forall(_._3 == 5L), "moved keys land on the new shard only")
    val occupied = keys.select(Curation.rendezvousShard(col("k"), 6).as("s"))
      .distinct().as[Long].collect().toSet
    assert(occupied == (0L to 5L).toSet, "600 keys occupy all 6 shards")
    // the measured-balance claim from the Scaladoc, pinned: the
    // squared-hash score spreads 600 keys to 92-109 per shard (the raw
    // affine-in-salt hash would land EVERY key on the top shard)
    val sizes = keys.select(Curation.rendezvousShard(col("k"), 6).as("s"))
      .groupBy("s").count().as[(Long, Long)].collect().toMap
    assert(sizes.values.forall(n => n >= 92L && n <= 109L),
      s"per-shard sizes out of the measured band: $sizes")
  }

  test("reshardStability: fold matches the per-row diff count, floor ppm") {
    val keys = (0 until 500).map(_.toLong).toDF("k")
    val expectMoved = keys.select(
        Curation.rendezvousShard(col("k"), 7).as("a"),
        Curation.rendezvousShard(col("k"), 8).as("b"))
      .filter(col("a") =!= col("b")).count()
    val got = Curation.reshardStability(keys, col("k"), 7, 8)
      .as[(Long, Long, Long, Long, Long)].collect().head
    assert(got == ((7L, 8L, 500L, expectMoved, expectMoved * 1000000L / 500L)))
  }

  private def polyhash(s: String): Long = {
    var h = 0L; var i = 0
    while (i < s.length) { h = (h * 31 + s.codePointAt(i)) % 1000000007L; i += 1 }
    h
  }

  test("prioritySample == brute DLT model: top-k by w*M div (h+1), est = max(w, tau)") {
    val rows = (1 to 60).map(i => (s"g${i % 3}", i.toLong, (i * 37 % 500 + 1).toLong))
    val df = rows.toDF("g", "id", "w")
    val got = Curation.prioritySample(df, "g", col("id"), col("w"), k = 5)
      .as[(String, Long, Long, Long, Long)].collect().toSet
    val expect = rows.groupBy(_._1).flatMap { case (g, rs) =>
      val withP = rs.map { case (_, id, w) =>
        (id, w, w * 1000000007L / (polyhash(id.toString) + 1L)) }
      val ranked = withP.sortBy { case (id, _, p) => (-p, id) }
      val tau = if (ranked.size > 5) ranked(5)._3 else 0L
      ranked.take(5).map { case (id, w, p) => (g, id, w, p, math.max(w, tau)) }
    }.toSet
    assert(got == expect)
  }

  test("prioritySample: a group at or under k keeps every row with est_weight = w") {
    val df = (1 to 4).map(i => ("only", i.toLong, i * 100L)).toDF("g", "id", "w")
    val got = Curation.prioritySample(df, "g", col("id"), col("w"), k = 8)
      .as[(String, Long, Long, Long, Long)].collect()
    assert(got.length == 4)
    assert(got.forall { case (_, _, w, _, est) => est == w },
      "tau is undefined under k rows: the sample IS the group, estimates exact")
  }

  test("prioritySample: out-of-domain weights raise loudly") {
    val bad = Seq(("g", 1L, 0L), ("g", 2L, 5L)).toDF("g", "id", "w")
    val e = intercept[Exception] {
      Curation.prioritySample(bad, "g", col("id"), col("w"), k = 2).collect()
    }
    assert(e.getMessage.contains("weights must sit in [1, 9e9]"))
    val big = Seq(("g", 1L, 9000000001L)).toDF("g", "id", "w")
    val e2 = intercept[Exception] {
      Curation.prioritySample(big, "g", col("id"), col("w"), k = 2).collect()
    }
    assert(e2.getMessage.contains("weights must sit in [1, 9e9]"))
  }

  test("ablateGroups: exact floor-ppm LOO deltas, negative values floor like the oracle") {
    val df = Seq(("a", -3L), ("b", 5L), ("b", 6L)).toDF("g", "v")
    val got = Curation.ablateGroups(df, "g", col("v"))
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    // overall = 8e6 div 3 = 2666666 (floor)
    assert(got("a") == (("a", 1L, -3000000L, 2666666L, 5500000L, 2833334L)))
    assert(got("b") == (("b", 2L, 5500000L, 2666666L, -3000000L, -5666666L)))
  }

  test("ablateGroups: a single group raises loudly instead of an undefined mean") {
    val df = Seq(("only", 1L), ("only", 2L)).toDF("g", "v")
    val e = intercept[Exception] {
      Curation.ablateGroups(df, "g", col("v")).collect()
    }
    assert(e.getMessage.contains("at least 2 groups"))
  }

  test("skyline2D == brute dominance model; duplicates survive; negative x raises") {
    import graft.ops.Curation
    val rnd = new scala.util.Random(20260831L)
    // small coordinate ranges force x-ties, y-ties and exact duplicates
    val pts = (1 to 400).map(i =>
      (i.toLong, rnd.nextInt(60).toLong, rnd.nextInt(60).toLong - 20))
    val got = Curation.skyline2D(pts.toDF("id", "xc", "yc"), "id",
        col("xc"), col("yc"))
      .as[(Long, Long, Long)].collect().toSet
    val exp = pts.filter { case (_, x, y) =>
      !pts.exists { case (_, qx, qy) =>
        qx >= x && qy >= y && (qx > x || qy > y) }
    }.toSet
    assert(got == exp)
    assert(exp.size > 1, "fixture should keep a multi-point frontier")
    // exact duplicates of a frontier point all survive together
    val dup = Seq((1L, 10L, 10L), (2L, 10L, 10L), (3L, 5L, 20L), (4L, 3L, 3L))
    val dupGot = Curation.skyline2D(dup.toDF("id", "xc", "yc"), "id",
        col("xc"), col("yc"))
      .as[(Long, Long, Long)].collect().toSet
    assert(dupGot == Set((1L, 10L, 10L), (2L, 10L, 10L), (3L, 5L, 20L)))
    // x = 0 rows participate (the sentinel bucket)
    val zero = Seq((1L, 0L, 99L), (2L, 50L, 1L), (3L, 7L, 50L))
    val zeroGot = Curation.skyline2D(zero.toDF("id", "xc", "yc"), "id",
        col("xc"), col("yc"))
      .as[(Long, Long, Long)].collect().toSet
    assert(zeroGot == zero.toSet)
    // negative x raises loudly
    val e = intercept[Throwable] {
      Curation.skyline2D(Seq((1L, -3L, 5L)).toDF("id", "xc", "yc"), "id",
        col("xc"), col("yc")).collect()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("must be >= 0"), s"got: $msgs")
  }
}
