package graft

import org.apache.spark.sql.functions._

import graft.ops.{Multimodal, Similarity}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val vecs = Seq(
    (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
    (2L, Array(1.0f, 0.0f, 0.0f, 0.0f)),  // identical to 1
    (3L, Array(0.9f, 0.1f, 0.0f, 0.0f)),  // close to 1
    (4L, Array(0.0f, 0.0f, 0.0f, 1.0f)),  // orthogonal
    (5L, Array(-1.0f, 0.0f, 0.0f, 0.0f))  // opposite
  ).toDF("vec_id", "embedding")

  test("cosine: identical=1, orthogonal=0, opposite=-1") {
    val out = vecs.as("a").crossJoin(vecs.as("b"))
      .filter(col("a.vec_id") === 1 && col("b.vec_id").isin(2, 4, 5))
      .select(col("b.vec_id"),
        Similarity.cosine(col("a.embedding"), col("b.embedding")))
      .as[(Long, Double)].collect().toMap
    assert(out(2L) == 1.0)
    assert(out(4L) == 0.0)
    assert(out(5L) == -1.0)
  }

  test("brute-force top-k ranks by similarity with id tiebreak") {
    val out = Similarity.bruteForceTopK(vecs, vecs.filter($"vec_id" === 1),
        "vec_id", "embedding", 3)
      .select("neighbor_id", "rank").as[(Long, Long)].collect().toSeq
    // rank1: identical (id 2); rank2: close (id 3); rank3: orthogonal (4)
    assert(out == Seq((2L, 1L), (3L, 2L), (4L, 3L)))
  }

  test("sign-LSH bucket groups same-sign vectors; near-dup pairs found in-bucket") {
    val out = Similarity.nearDupPairs(vecs, "vec_id", "embedding", 0.99, planes = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(out.contains((1L, 2L)))   // identical, same bucket
    assert(!out.contains((1L, 5L)))  // opposite sign -> different bucket
  }

  test("multi-band LSH: hot-bucket cap keeps candidates sub-quadratic; other bands keep recall") {
    val n = 60
    // Band 0 (dims 1-8) identical for EVERY vector — the hot-bucket
    // shape of a correlated embedding corpus. Band 1 (dims 9-16) pairs
    // vectors (2k, 2k+1) into two-member buckets.
    val skewed = (0 until n).map { i =>
      val band0 = Array.fill(8)(0.5f)
      val bits = i / 2
      val band1 = (0 until 8).map(b =>
        if (((bits >> b) & 1) == 1) 0.5f else -0.5f).toArray
      (i.toLong, band0 ++ band1)
    }.toDF("vec_id", "embedding")
    // uncapped: the 60-member band-0 bucket goes quadratic
    val uncapped = Similarity.nearDupCandidates(skewed, "vec_id", "embedding",
      bucketCap = Long.MaxValue).count()
    assert(uncapped == n.toLong * (n - 1) / 2)
    // capped: the hot bucket is excluded; candidates only via band-1
    // buckets (30 pairs) — sub-quadratic regardless of the skew
    val capped = Similarity.nearDupCandidates(skewed, "vec_id", "embedding",
      bucketCap = 10).count()
    assert(capped == n / 2)
    // recall: identical pairs are still found through their OTHER band
    val pairs = Similarity.nearDupPairs(skewed, "vec_id", "embedding", 0.999,
        bucketCap = 10)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == (0 until n by 2).map(k => (k.toLong, (k + 1).toLong)).toSet)
  }

  test("multimodal: per-partition text decode produces deterministic features") {
    val docs = Seq((1L, "abc"), (2L, "x" * 250)).toDF("doc_id", "text")
    val out = Multimodal.extractFeatures(
        Multimodal.asMediaTable(docs, "doc_id", "text"))
      .collect().map(f => f.doc_id -> f).toMap
    assert(out(1L).byte_len == 3 && out(1L).n_frames == 1)
    assert(out(1L).checksum == 96354L) // same fold as TextFeatures.charHash
    assert(out(2L).byte_len == 250 && out(2L).n_frames == 3)
  }

  test("multimodal: ImageIO PNG round-trip — header meta and pixel features") {
    val ids = Seq(1L, 17L, 300L).toDF("doc_id")
    val media = Multimodal.syntheticImages(ids, "doc_id")
    // header-only decode recovers the synthesized dims and format
    val meta = Multimodal.imageMeta(media).collect().map(m => m.doc_id -> m).toMap
    for (id <- Seq(1L, 17L, 300L)) {
      assert(meta(id).width == (id % 16 + 1).toInt, s"width of $id")
      assert(meta(id).height == (id % 7 + 1).toInt, s"height of $id")
      assert(meta(id).fmt == "png")
    }
    // full pixel decode: single-frame, checksum equals a driver-side
    // re-decode of the same payload (codec really ran on executors)
    val feats = Multimodal.extractFeatures(media)
      .collect().map(f => f.doc_id -> f).toMap
    val rows = media.collect().map(r => r.doc_id -> r).toMap
    for (id <- Seq(1L, 17L, 300L)) {
      assert(feats(id).n_frames == 1L)
      assert(feats(id).checksum == Multimodal.ImageDecoder.features(rows(id)).checksum)
      assert(feats(id).byte_len == rows(id).payload.length.toLong)
    }
    // a corrupt payload fails loudly, not with a null image NPE
    val bad = Multimodal.MediaRow(9L, Array[Byte](1, 2, 3), "image/png", 3L)
    intercept[IllegalArgumentException](Multimodal.ImageDecoder.features(bad))
  }

  test("multimodal resize: nearest-neighbor picks exact source pixels, any scale") {
    // 4x2 source with distinct pixels; upscale to 8x8 and downscale to
    // 2x1 — target (x,y) must read source (x*sw/tw, y*sh/th) verbatim
    val src = new java.awt.image.BufferedImage(4, 2, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 2; x <- 0 until 4) src.setRGB(x, y, (y * 4 + x) * 1000)
    val up = Multimodal.ImageDecoder.resizeNearest(src, 8, 8)
    for (y <- 0 until 8; x <- 0 until 8)
      assert((up.getRGB(x, y) & 0xffffff) == ((y * 2 / 8) * 4 + (x * 4 / 8)) * 1000)
    val down = Multimodal.ImageDecoder.resizeNearest(src, 2, 1)
    assert((down.getRGB(0, 0) & 0xffffff) == 0 && (down.getRGB(1, 0) & 0xffffff) == 2000)
    // executor path: checksum of the resized raster is deterministic
    // across partitionings
    val ids = Seq(3L, 44L, 123L).toDF("doc_id")
    val a = Multimodal.resizedChecksums(Multimodal.syntheticImages(ids.coalesce(1), "doc_id"), 8, 8)
      .collect().map(f => f.doc_id -> f.checksum).toMap
    val b = Multimodal.resizedChecksums(Multimodal.syntheticImages(ids.repartition(3), "doc_id"), 8, 8)
      .collect().map(f => f.doc_id -> f.checksum).toMap
    assert(a == b && a.values.toSet.size == 3)
  }

  test("multimodal audio: javax.sound WAV round-trip recovers format, frames, samples") {
    val ids = Seq(0L, 7L, 123L).toDF("doc_id")
    val metas = Multimodal.audioMeta(Multimodal.syntheticAudio(ids, "doc_id"))
      .collect().map(m => m.doc_id -> m).toMap
    for (id <- Seq(0L, 7L, 123L)) {
      val m = metas(id)
      assert(m.sample_rate == 8000 && m.n_channels == 1)
      assert(m.n_samples == id % 50 + 10)
      // driver-side model of the u16 sample fold
      var h = 0L
      (0L until (id % 50 + 10)).foreach(i =>
        h = (h * 31 + (id * 31 + i * 7) % 65536) % 1000000007L)
      assert(m.checksum == h, s"checksum of $id")
    }
    // a corrupt payload fails loudly (unsupported audio), not silently
    intercept[Exception](Multimodal.AudioCodec.meta(9L, Array[Byte](1, 2, 3, 4)))
  }

  test("multimodal frame-sample keeps every k-th code-point frame; empty emits none") {
    val docs = Seq(
      (1L, "a" * 250),  // frames 0,1,2 -> keep 0, 2
      (2L, "xyz"),      // one frame -> keep 0
      (3L, "")          // no frames
    ).toDF("doc_id", "text")
    val out = Multimodal.frameSample(
        Multimodal.asMediaTable(docs, "doc_id", "text"), 2)
      .collect().map(f => (f.doc_id, f.frame_idx)).toSet
    assert(out == Set((1L, 0L), (1L, 2L), (2L, 0L)))
    // frame hash is the code-point fold of the frame text
    val h = Multimodal.frameSample(
        Multimodal.asMediaTable(docs.filter(col("doc_id") === 2), "doc_id", "text"), 1)
      .collect().head.frame_hash
    var expect = 0L
    "xyz".foreach(c => expect = (expect * 31 + c.toLong) % 1000000007L)
    assert(h == expect)
  }

  test("random projection matches an in-memory ±1 LCG model") {
    val dims = 4
    val out = Similarity.randomProject(vecs, "vec_id", "embedding", dims, 3)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._3) -> (r._4, r._2)).toMap
    def sign(i: Long): Long =
      if (((i * 1103515245L + 12345L) >> 16) % 2 == 0) 1L else -1L
    val raw = Map(1L -> Array(1.0f, 0f, 0f, 0f), 2L -> Array(1.0f, 0f, 0f, 0f),
      3L -> Array(0.9f, 0.1f, 0f, 0f), 4L -> Array(0f, 0f, 0f, 1.0f),
      5L -> Array(-1.0f, 0f, 0f, 0f))
    for ((id, v) <- raw; j <- 0 until 3) {
      val q = v.map(x => math.floor(x.toDouble * 1e6).toLong)
      val p = (0 until dims).map(d => sign(j.toLong * dims + d) * q(d)).sum
      val sig = (0 until 3).map(jj => if ((0 until dims)
        .map(d => sign(jj.toLong * dims + d) * q(d)).sum > 0) 1L << jj else 0L).sum
      assert(out((id, j.toLong)) == (p, sig), s"vec $id plane $j")
    }
    // identical vectors share signatures; opposite vectors negate projs
    assert(out((1L, 0L)) == out((2L, 0L)))
    assert(out((5L, 0L))._1 == -out((1L, 0L))._1)
  }

  test("random projection: short vectors read 0 past their end; bad outDims rejected") {
    val short = Seq((1L, Array(1.0f))).toDF("vec_id", "embedding")
    // dims=4 but only 1 element: planes see (q, 0, 0, 0)
    val p = Similarity.randomProject(short, "vec_id", "embedding", 4, 2)
      .as[(Long, Long, Long, Long)].collect().map(r => r._3 -> r._4).toMap
    def sign(i: Long): Long =
      if (((i * 1103515245L + 12345L) >> 16) % 2 == 0) 1L else -1L
    assert(p(0L) == sign(0) * 1000000L && p(1L) == sign(4) * 1000000L)
    intercept[IllegalArgumentException](
      Similarity.randomProject(short, "vec_id", "embedding", 4, 63))
    intercept[IllegalArgumentException](
      Similarity.randomProject(short, "vec_id", "embedding", 0, 8))
  }

  test("semanticDedup: clones die, sub-threshold cluster-mates survive") {
    val corpus = Seq(
      (0L, Array(1.0f, 0.0f)),  // seed / cluster 0
      (1L, Array(0.0f, 1.0f)),  // seed / cluster 1
      (2L, Array(0.9f, 0.1f)),  // cluster 0, cos(0,2) ≈ 0.994 < τ
      (3L, Array(0.9f, 0.1f)),  // exact clone of 2 → cos 1.0 → dropped
      (4L, Array(0.1f, 0.95f))  // cluster 1, cos(1,4) ≈ 0.994 < τ
    ).toDF("vec_id", "embedding")
    val out = Similarity.semanticDedup(corpus, "vec_id", "embedding", 2, 1, 999L)
      .as[(Long, Long)].collect().toMap
    assert(out.keySet == Set(0L, 1L, 2L, 4L)) // 3 is the higher-id clone
    assert(out(0L) == 0L && out(2L) == 0L && out(1L) == 1L && out(4L) == 1L)
    // lower τ: 0–2 and 1–4 now count as semantic dupes too
    val tight = Similarity.semanticDedup(corpus, "vec_id", "embedding", 2, 1, 990L)
      .as[(Long, Long)].collect().toMap
    assert(tight.keySet == Set(0L, 1L))
  }

  test("multiProbeTopK: superset recall of single-bucket LSH, no duplicate ranks") {
    // vectors on either side of plane 0: exact-bucket LSH separates
    // them; the one-bit probe recovers the cross-plane neighbor
    val vecs = Seq(
      (0L, Array(0.10f, 1.0f, 1.0f, 1.0f, 1.0f, 1.0f, 1.0f, 1.0f)),
      (1L, Array(-0.10f, 1.0f, 1.0f, 1.0f, 1.0f, 1.0f, 1.0f, 1.0f)),
      (2L, Array(0.2f, 1.0f, 1.0f, 1.0f, 1.0f, 1.0f, 1.0f, 1.0f)),
      (3L, Array(-1.0f, -1.0f, -1.0f, -1.0f, -1.0f, -1.0f, -1.0f, -1.0f)))
      .toDF("vec_id", "embedding")
    val q = vecs.filter(col("vec_id") === 0L)
    val plain = Similarity.lshTopK(vecs, q, "vec_id", "embedding", 3)
      .as[(Long, Long, Long, Double)].collect().map(_._2).toSet
    val multi = Similarity.multiProbeTopK(vecs, q, "vec_id", "embedding", 3)
      .as[(Long, Long, Long, Double)].collect()
    val multiIds = multi.map(_._2).toSet
    assert(plain.subsetOf(multiIds))
    assert(multiIds.contains(1L), s"one-bit probe must recover vec 1: $multiIds")
    // ranks are 1..n without duplicates even though probes overlap
    assert(multi.map(_._3).sorted.toSeq == (1L to multi.length).toSeq)
  }

  test("hardNegatives: near-dups are excluded before the rank, self never appears") {
    val base = Array(1.0f, 0.0f, 0.0f, 0.0f, 1.0f, 1.0f, 1.0f, 1.0f)
    val vecs = Seq(
      (0L, base),
      (1L, base.map(_ * 1.001f)),                      // near-dup of 0 (cosine 1.0)
      (2L, Array(0.0f, 1.0f, 0.0f, 0.0f, 1.0f, 1.0f, 1.0f, 1.0f)), // cosine 0.8: similar, not dup
      (3L, Array(-1.0f, -1.0f, -1.0f, -1.0f, 1.0f, -1.0f, 1.0f, -1.0f)))
      .toDF("vec_id", "embedding")
    val q = vecs.filter(col("vec_id") === 0L)
    val out = Similarity.hardNegatives(vecs, q, "vec_id", "embedding", k = 2)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._3)
    // vec 1 (the near-dup) and vec 0 (self) must be absent; vec 2 ranks 1
    assert(!out.exists(_._2 == 1L) && !out.exists(_._2 == 0L))
    assert(out.head._2 == 2L && out.head._3 == 1L)
  }

  test("annRecallReport: hit counts vs the in-memory truth, zero-hit queries kept") {
    val rnd = new scala.util.Random(79)
    val vecs = (0L until 60L).map { i =>
      (i, Array.tabulate(16)(d => rnd.nextFloat() * 2 - 1)) }
    val df = vecs.toDF("vec_id", "embedding")
    val q = df.filter(col("vec_id") < 6)
    val out = Similarity.annRecallReport(df, q, "vec_id", "embedding", 4)
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(out.keySet == (0L until 6L).toSet, "every query reports")
    // cross-check against the operator outputs themselves
    val truth = Similarity.bruteForceTopK(df, q, "vec_id", "embedding", 4)
      .select(col("query_id"), col("neighbor_id"))
      .as[(Long, Long)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val approx = Similarity.lshTopK(df, q, "vec_id", "embedding", 4)
      .select(col("query_id"), col("neighbor_id"))
      .as[(Long, Long)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    out.foreach { case (qid, (_, nTruth, nHit, ppm)) =>
      val t = truth(qid)
      val h = approx.getOrElse(qid, Set.empty[Long]).intersect(t)
      assert(nTruth == t.size && nHit == h.size, s"query $qid")
      assert(ppm == nHit * 1000000L / nTruth)
    }
  }

  test("mmrSelect matches the brute-force greedy model and diversifies vs kNN") {
    def cos(a: Array[Float], b: Array[Float]): Double = {
      def dot(x: Array[Float], y: Array[Float]) =
        x.indices.foldLeft(0.0)((s, i) => s + x(i).toDouble * y(i).toDouble)
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    }
    val rnd = new scala.util.Random(71)
    // two tight clusters near the query + one off-axis direction
    val qv = Array.fill(8)(1.0f)
    val vecs = (1L to 30L).map { i =>
      val base: Array[Float] =
        if (i <= 14) Array(1f, 1f, 1f, 1f, 1f, 1f, 1f, 0.9f)
        else if (i <= 28) Array(0.9f, 1f, 1f, 1f, 1f, 1f, 1f, 1f)
        else Array(-1f, 1f, -1f, 1f, -1f, 1f, -1f, 1f)
      (i, base.map(v => v + (rnd.nextFloat() - 0.5f) * 0.05f))
    }
    def brute(k: Int, lam: Double, oneMinus: Double): Seq[(Long, Long)] = {
      var picks = Vector.empty[(Long, Array[Float])]
      while (picks.size < k) {
        val cand = vecs.filterNot(v => picks.exists(_._1 == v._1))
          .map { case (id, v) =>
            val rel = cos(v, qv)
            val pen = if (picks.isEmpty) 0.0
              else picks.map(p => cos(v, p._2)).max
            (id, v, if (picks.isEmpty) lam * rel else lam * rel - oneMinus * pen)
          }
        val best = cand.minBy { case (id, _, s) => (-s, id) }
        picks :+= ((best._1, best._2))
      }
      picks.zipWithIndex.map { case ((id, _), i) => (i + 1L, id) }
    }
    val got = Similarity.mmrSelect(vecs.toDF("vec_id", "embedding")
        .repartition(5), "vec_id", "embedding", qv, k = 4)
      .as[(Long, Long, Double, Double)].collect().toSeq.map(r => (r._1, r._2))
    assert(got == brute(4, 70 / 100.0, 30 / 100.0))
    // diversification: the picks must span both near-query clusters
    val ids = got.map(_._2).toSet
    assert(ids.exists(_ <= 14) && ids.exists(i => i > 14 && i <= 28))
    // k larger than the corpus: returns what exists, then stops
    val tiny = vecs.take(3).toDF("vec_id", "embedding")
    assert(Similarity.mmrSelect(tiny, "vec_id", "embedding", qv, k = 9)
      .count() == 3)
  }

  test("labelAgreement: neighborhood vote, ppm floor, suspect threshold") {
    import org.apache.spark.sql.functions.col
    val nb = Seq((1L, 11L), (1L, 12L), (1L, 13L), (2L, 11L), (2L, 13L))
      .toDF("query_id", "neighbor_id")
    val labels = Seq((1L, "a"), (2L, "b"), (11L, "a"), (12L, "b"), (13L, "a"))
      .toDF("id", "lab")
    val got = graft.ops.Similarity.labelAgreement(nb, labels, "id", "lab",
        minAgreePpm = 700000L)
      .orderBy("query_id")
      .as[(Long, String, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, "a", 3L, 2L, 666666L, 1L),   // 2/3 agree -> floor ppm, suspect
      (2L, "b", 2L, 0L, 0L, 1L)))       // boundary/mislabel candidate
  }

  test("matryoshkaRecall: prefix-blind neighbor lost at low width, found at full") {
    // id 1's discriminating mass sits in the TAIL dims (prefix ⊥ the
    // query), id 2's in the HEAD: width 2 retrieves 2, width 4 the
    // true neighbor 1 — recall prices the truncation.
    val vecs = Seq(
      (0L, Seq(1f, 0f, 0f, 2f)),
      (1L, Seq(0f, 0.1f, 0f, 1f)),
      (2L, Seq(1f, 0.1f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val got = graft.ops.Similarity.matryoshkaRecall(
        vecs, vecs.filter($"vec_id" === 0L), "vec_id", "embedding",
        k = 1, dims = Seq(2, 4))
      .orderBy("dims")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((2L, 1L, 0L, 0L), (4L, 1L, 1L, 1000000L)))
  }

  test("matryoshkaRecall: width beyond the stored vectors raises, never clamps") {
    // slice() would silently clamp width 8 to the stored 4 dims and
    // report full-width recall — the loud-out-of-domain discipline
    // demands a raise instead.
    val vecs = Seq(
      (0L, Seq(1f, 0f, 0f, 2f)),
      (1L, Seq(0f, 0.1f, 0f, 1f)),
      (2L, Seq(1f, 0.1f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val e = intercept[Throwable] {
      graft.ops.Similarity.matryoshkaRecall(
        vecs, vecs.filter($"vec_id" === 0L), "vec_id", "embedding",
        k = 1, dims = Seq(2, 8)).collect()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("width 8 exceeds stored embedding length"))
    // exact-width control passes
    assert(graft.ops.Similarity.matryoshkaRecall(
      vecs, vecs.filter($"vec_id" === 0L), "vec_id", "embedding",
      k = 1, dims = Seq(4)).collect().length == 1)
  }

  test("nearDupStep union == UNCAPPED one-shot when a bucket exceeds the cap") {
    // The step is cap-free by design (the cap belongs at index
    // compaction, not the probe); its equivalence contract is against
    // the uncapped enumeration. Force every vector into one hot
    // bucket: a capped one-shot (bucketCap=1) drops all pairs, the
    // uncapped one-shot and the step union keep them — q227's oracle
    // must therefore be the uncapped spelling.
    val vecs = (0 until 8).map(i => (i.toLong, Seq(1f, 1f, 1f, 1f)))
    val df = vecs.toDF("vec_id", "embedding")
    val uncapped = graft.ops.Similarity.nearDupPairs(df, "vec_id", "embedding",
        0.99, planes = 4, bands = 1, bucketCap = Long.MaxValue)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(uncapped.size == 28, "8 identical vectors -> all pairs")
    val capped = graft.ops.Similarity.nearDupPairs(df, "vec_id", "embedding",
        0.99, planes = 4, bands = 1, bucketCap = 1L)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(capped.isEmpty, "hot bucket over the cap is excluded one-shot")
    var idx = graft.ops.Similarity.emptyNearDupIndex(spark)
    val got = scala.collection.mutable.Set[(Long, Long)]()
    Seq(0 until 3, 3 until 8).foreach { r =>
      val step = graft.ops.Similarity.nearDupStep(
        vecs.slice(r.start, r.end).toDF("vec_id", "embedding"), idx,
        "vec_id", "embedding", 0.99, planes = 4, bands = 1)
      got ++= step.pairs.select("id_a", "id_b").as[(Long, Long)].collect()
      idx = step.index.localCheckpoint()
    }
    assert(got.toSet == uncapped, "step union == uncapped one-shot")
  }

  test("nearDupStep: sequential batches == one-shot; index grows to corpus") {
    val rnd = new scala.util.Random(20260815L)
    val vecs = (0 until 60).map { i =>
      (i.toLong, Seq.fill(16)((rnd.nextInt(9) - 4).toFloat / 4f))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val oneShot = graft.ops.Similarity.nearDupPairs(df, "vec_id", "embedding",
        0.5, planes = 4, bands = 2, bucketCap = Long.MaxValue)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(oneShot.nonEmpty, "fixture must produce pairs")
    var idx = graft.ops.Similarity.emptyNearDupIndex(spark)
    val got = scala.collection.mutable.Set[(Long, Long)]()
    Seq(0 until 20, 20 until 45, 45 until 60).foreach { r =>
      val step = graft.ops.Similarity.nearDupStep(
        vecs.slice(r.start, r.end).toDF("vec_id", "embedding"), idx,
        "vec_id", "embedding", 0.5, planes = 4, bands = 2)
      got ++= step.pairs.select("id_a", "id_b").as[(Long, Long)].collect()
      idx = step.index.localCheckpoint()
    }
    assert(got.toSet == oneShot, "sequential == combined")
    val full = graft.ops.Similarity.nearDupIndex(df, "vec_id", "embedding", 4, 2)
      .select("band", "bucket", "id").as[(Int, Long, Long)].collect().toSet
    assert(idx.select("band", "bucket", "id")
      .as[(Int, Long, Long)].collect().toSet == full,
      "grown index == whole-corpus index")
  }
}
