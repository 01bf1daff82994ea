package graft

import graft.ops.TextDedup

class TextDedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat"), // near dup
    (4L, "completely different words entirely here now"),
    (5L, "short")).toDF("doc_id", "text")

  test("exact dedup: one group, min id canonical") {
    val out = TextDedup.exactDupGroups(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toSeq
    assert(out == Seq((1L, 2L)))
  }

  test("minhash LSH: exact dups estimated at 1.0; disjoint docs never pair") {
    val out = TextDedup.minhashCandidates(docs, "doc_id", "text")
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(out((1L, 2L)) == 1.0)
    assert(!out.keySet.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("simhash pairs: identical docs at hamming 0; under-threshold pairs absent") {
    val out = TextDedup.simhashPairs(docs, "doc_id", "text")
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(out((1L, 2L)) == 0L)
    assert(!out.keySet.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("ngram jaccard: exact dup = 1.0, near dup in (0,1), computed exactly") {
    val out = TextDedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.1)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(out((1L, 2L)) == 1.0)
    // doc1 vs doc3: 7 shingles each, 6 shared -> 6/(7+7-6) = 0.75
    assert(out((1L, 3L)) == 0.75)
    assert(!out.contains((1L, 4L)))
  }

  test("ngram jaccard: stop-shingle cap removes boilerplate-driven pairs") {
    val boiler = Seq(
      (1L, "alpha beta gamma copyright notice footer"),
      (2L, "delta epsilon zeta copyright notice footer"),
      (3L, "eta theta iota copyright notice footer"),
      (4L, "kappa lambda mu copyright notice footer"),
      (5L, "alpha beta gamma copyright notice footer"), // clone of 1
      (6L, "copyright notice footer"),                  // ONLY the boilerplate
      (7L, "copyright notice footer")                   // clone of 6
    ).toDF("doc_id", "text")
    // Uncapped: the ubiquitous trigram (df = 5 distinct texts) links
    // every doc to every other — the hot-key fan-out the cap exists for.
    val loose = TextDedup.ngramJaccardPairs(boiler, "doc_id", "text", threshold = 0.1)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(loose.contains((1L, 2L)))
    // Capped at df > 2: the boilerplate shingle is excluded in BOTH
    // intersections and sizes; only the true clone pair survives.
    val capped = TextDedup.ngramJaccardPairs(boiler, "doc_id", "text",
        threshold = 0.1, maxShingleDf = 2)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(capped.keySet == Set((1L, 5L)))
    assert(capped((1L, 5L)) == 1.0)
    // docs consisting ENTIRELY of stop-shingles have an empty reduced
    // set -> undefined jaccard -> no pairs at all, even within a clique
    assert(!capped.contains((6L, 7L)))
  }

  test("ngram jaccard: hash-colliding distinct texts are not merged into one clique") {
    import org.apache.spark.unsafe.types.UTF8String
    // Find two distinct texts with the same charHash (mod 1e9+7, so a
    // birthday search over ~hundreds of thousands of probes finds one).
    val seen = scala.collection.mutable.HashMap.empty[Long, Int]
    var pair: Option[(Int, Int)] = None
    var i = 0
    while (pair.isEmpty && i < 2000000) {
      val h = graft.functions.PolyHash.hash(
        UTF8String.fromString(s"collision probe token $i"))
      seen.get(h) match {
        case Some(j) => pair = Some((j, i))
        case None    => seen(h) = i; ()
      }
      i += 1
    }
    assert(pair.nonEmpty, "no charHash collision found in 2M probes")
    val (x, y) = pair.get
    val colliding = Seq(
      (1L, s"collision probe token $x"),
      (2L, s"collision probe token $y")).toDF("doc_id", "text")
    val out = TextDedup.ngramJaccardPairs(colliding, "doc_id", "text", threshold = 0.1)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    // The two texts share only "collision probe token" (1 of 2+2-1=3
    // shingles): a hash-keyed representative would have merged them
    // into one clique and reported a false 1.0.
    assert(out((1L, 2L)) == 1.0 / 3)
  }

  test("deduped corpus keeps the min-id canonical per cluster, uniques pass through") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),  // exact clone of 1
      (7L, "alpha beta gamma delta epsilon zeta"),  // exact clone of 1
      (3L, "one two three four five six seven"),
      (4L, "totally unrelated content goes here now")).toDF("doc_id", "text")
    val kept = TextDedup.dedupedCorpus(docs, "doc_id", "text", 0.75)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L, 4L), s"kept $kept")
  }

  test("block boilerplate: shared blocks cut, doc re-assembled in order") {
    // "a b c d e" is a full 5-token block shared by 3 docs → boilerplate
    // (df > 2); each doc keeps its unique tail; doc 4's single distinct
    // block survives untouched.
    val d = Seq(
      (1L, "a b c d e unique one tail"),
      (2L, "a b c d e unique two tail"),
      (3L, "a b c d e unique three tail"),
      (4L, "totally different text here now")).toDF("doc_id", "text")
    val out = TextDedup.blockBoilerplate(d, "doc_id", "text", 5, 2)
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect().toSeq
    assert(out == Seq(
      (1L, 2L, 1L, "unique one tail"),
      (2L, 2L, 1L, "unique two tail"),
      (3L, 2L, 1L, "unique three tail"),
      (4L, 1L, 1L, "totally different text here now")))
  }

  test("block boilerplate: fully-boilerplate doc yields empty text, not a dropped row") {
    val d = Seq(
      (1L, "x y z w v"),
      (2L, "x y z w v"),
      (3L, "x y z w v"),
      (4L, "x y z w v keep this suffix run")).toDF("doc_id", "text")
    val out = TextDedup.blockBoilerplate(d, "doc_id", "text", 5, 2)
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect().toSeq
    assert(out.map(_._1) == Seq(1L, 2L, 3L, 4L))
    assert(out.take(3).forall(r => r._3 == 0L && r._4 == ""))
    assert(out(3) == ((4L, 2L, 1L, "keep this suffix run")))
  }

  test("span dedup: cross-doc duplicated window covers exactly its tokens") {
    // d1 and d2 share the single 5-token window "a b c d e"; d3 shares
    // nothing and must be absent from the output.
    val d = Seq(
      (1L, "a b c d e f g h"),
      (2L, "x y a b c d e z"),
      (3L, "p q r s t u v w")).toDF("doc_id", "text")
    val out = TextDedup.dupSpanCoverage(d, "doc_id", "text", windowTokens = 5)
      .orderBy("doc_id").as[(Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq((1L, 8L, 1L, 5L), (2L, 8L, 1L, 5L)))
  }

  test("span dedup: overlapping spans merge to the exact covered count") {
    // Exact clones: every window duplicated; spans [1,6),[2,7),[3,8)
    // merge into one 7-token interval, not 15 double-counted tokens.
    val d = Seq(
      (1L, "a b c d e f g"),
      (2L, "a b c d e f g")).toDF("doc_id", "text")
    val out = TextDedup.dupSpanCoverage(d, "doc_id", "text", windowTokens = 5)
      .orderBy("doc_id").as[(Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq((1L, 7L, 3L, 7L), (2L, 7L, 3L, 7L)))
  }

  test("span dedup: a window repeated within ONE doc is not a duplicate") {
    val d = Seq(
      (1L, "a b c d e x x a b c d e"),
      (2L, "totally different tokens over here now")).toDF("doc_id", "text")
    assert(TextDedup.dupSpanCoverage(d, "doc_id", "text", 5).isEmpty)
  }

  test("winnowing == brute-force robust-winnow model on seeded fixtures") {
    val rnd = new scala.util.Random(20260813L)
    val Mod = 1000000007L
    val M = 1L << 21
    def polyhash(s: String): Long = {
      var h = 0L; var i = 0
      while (i < s.length) { h = (h * 31 + s.charAt(i)) % Mod; i += 1 }
      h
    }
    // Small alphabet → repeated 8-grams → the rightmost tie-break and
    // the distinct fold are genuinely exercised.
    val docs = (1L to 6L).map { id =>
      val n = 40 + rnd.nextInt(160)
      (id, (0 until n).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString)
    }
    val (k, w) = (8, 4)
    val expected = docs.flatMap { case (id, t) =>
      val nGrams = t.length - k + 1
      if (nGrams < w) None else {
        val hs = (1 to nGrams).map(p => (p.toLong, polyhash(t.substring(p - 1, p - 1 + k))))
        val sel = (1 to nGrams - w + 1).map { p =>
          hs.slice(p - 1, p - 1 + w).maxBy { case (pos, h) => (Mod - h) * M + pos }
        }.distinct
        val cks = sel.map { case (pos, h) => (h * pos) % Mod }.sum
        Some((id, nGrams.toLong, sel.size.toLong, cks))
      }
    }
    val out = TextDedup.winnowFingerprints(docs.toDF("doc_id", "text"), "doc_id", "text", k, w)
      .orderBy("doc_id").as[(Long, Long, Long, Long)].collect().toSeq
    assert(out == expected)
    // Winnowing's density guarantee: ≥ 1 fingerprint per window span,
    // ≤ one per window start.
    out.zip(expected).foreach { case ((_, nGrams, nFps, _), _) =>
      assert(nFps >= (nGrams - w + 1 + w - 1) / w && nFps <= nGrams - w + 1)
    }
  }

  test("provenanceDedup: priority beats id; counts span all sources") {
    val fresh = Seq((7L, "alpha beta"), (2L, "gamma")).toDF("doc_id", "text")
    val stale = Seq((1L, "alpha beta"), (3L, "alpha beta"), (9L, "delta"))
      .toDF("doc_id", "text")
    val out = TextDedup.provenanceDedup(
        Seq(("fresh", fresh), ("stale", stale)), "doc_id", "text")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(out == Set(
      // fresh id 7 wins over stale ids 1 and 3 despite the larger id
      ("fresh", 7L, 3L, 2L),
      ("fresh", 2L, 1L, 1L),
      ("stale", 9L, 1L, 1L)))
    // within one source, lowest id survives
    val solo = TextDedup.provenanceDedup(Seq(("only", stale)), "doc_id", "text")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(solo == Set(("only", 1L, 2L, 1L), ("only", 9L, 1L, 1L)))
  }

  test("prefixDupPairs: strict prefixes pair with their first extension") {
    val docs = Seq(
      (1L, "alpha beta"),        // prefix of 2 and 5: first extension is "alpha beta " (id 5)
      (2L, "alpha beta gamma"),
      (5L, "alpha beta "),       // extension of 1, prefix of 2
      (3L, "alpha"),             // prefix of 1/2/5: first extension "alpha beta" (id 1)
      (4L, "zeta"),              // no extension
      (6L, "alpha beta"))        // duplicate text: min id 1 represents it
      .toDF("doc_id", "text")
    val got = TextDedup.prefixDupPairs(docs, "doc_id", "text")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == Set(
      (3L, 1L, 5L, 10L),   // "alpha" -> "alpha beta"
      (1L, 5L, 10L, 11L),  // "alpha beta" -> "alpha beta " (space sorts first)
      (5L, 2L, 11L, 16L))) // "alpha beta " -> "alpha beta gamma"
    // layout independence of the distributed adjacency
    val many = (1 to 60).map(i => (i.toLong,
      "doc " + "x" * (i % 13) )).toDF("doc_id", "text")
    val a = TextDedup.prefixDupPairs(many.repartition(3), "doc_id", "text")
      .orderBy("prefix_id").as[(Long, Long, Long, Long)].collect().toSeq
    val b = TextDedup.prefixDupPairs(many.repartition(11), "doc_id", "text")
      .orderBy("prefix_id").as[(Long, Long, Long, Long)].collect().toSeq
    assert(a == b && a.nonEmpty)
    // every "doc xxx...k" is a prefix of the k+1 variant: 12 chains
    assert(a.size == 12)
  }

  test("selfSimilarityProbe: one partner per doc, replayed pairing, exact Jaccard") {
    val docs = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "the quick brown fox runs"),
      (3L, "a completely different sentence here"),
      (4L, "short"),                               // < 3 tokens: excluded
      (5L, "the quick brown fox jumps"))           // clone of 1
      .toDF("doc_id", "text")
    val out = TextDedup.selfSimilarityProbe(docs, "doc_id", "text")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(out.size == 4 && !out.exists(r => r._1 == 4L || r._2 == 4L))
    // replay the pairing: eligible ids 1,2,3,5 -> idx 0..3, n=4
    def partner(ia: Long): Long = {
      val p = ((ia % 1000003L) * 8191L + 524287L) % 1000003L % 3L
      if (p >= ia) p + 1 else p
    }
    val ids = Seq(1L, 2L, 3L, 5L)
    val exp = ids.zipWithIndex.map { case (id, i) =>
      id -> ids(partner(i).toInt) }.toMap
    assert(out.map(r => r._1 -> r._2).toMap == exp)
    // exact Jaccard hand-check wherever the clone pair appears
    out.foreach { case (a, b, na, nb, nc, ppm) =>
      val sh = (t: String) => t.split(" ").sliding(3).map(_.mkString(" ")).toSet
      val texts = Map(1L -> "the quick brown fox jumps",
        2L -> "the quick brown fox runs",
        3L -> "a completely different sentence here",
        5L -> "the quick brown fox jumps")
      val (sa, sb) = (sh(texts(a)), sh(texts(b)))
      assert(na == sa.size && nb == sb.size && nc == sa.intersect(sb).size)
      assert(ppm == nc * 1000000L / (na + nb - nc))
    }
    // layout independence
    val re = TextDedup.selfSimilarityProbe(docs.repartition(5), "doc_id", "text")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(re.sortBy(_._1) == out.sortBy(_._1))
  }

  test("lshSCurvePpm: monotone in s, endpoints exact, matches closed-form floats loosely") {
    val out = TextDedup.lshSCurvePpm(spark, Seq((4, 4), (8, 2)), stepPct = 5)
      .as[(Long, Long, Long, Long)].collect()
      .groupBy(r => (r._1, r._2)).view
      .mapValues(_.sortBy(_._3).map(r => r._3 -> r._4)).toMap
    out.foreach { case (cfg, curve) =>
      assert(curve.map(_._1).toSeq == (5L to 100L by 5L).toSeq, s"grid $cfg")
      // monotone non-decreasing in s; s=100 collides with certainty
      assert(curve.sliding(2).forall(p => p.head._2 <= p.last._2), s"monotone $cfg")
      assert(curve.last._2 == 1000000L, s"s=1 must read 1e6 for $cfg")
      // quantization sits within 1% of the float closed form
      curve.foreach { case (s, ppm) =>
        val exact = 1.0 - math.pow(1.0 - math.pow(s / 100.0, cfg._2.toDouble),
          cfg._1.toDouble)
        assert(math.abs(ppm / 1e6 - exact) < 0.01, s"$cfg s=$s: $ppm vs $exact")
      }
    }
    // steeper r gives the sharper threshold: at s=50, (4,4) must sit
    // well below (8,2) — more rows per band suppresses low-s collisions
    assert(out((4L, 4L)).toMap.apply(50L) < out((8L, 2L)).toMap.apply(50L))
  }

  test("dedupImpact: size histogram, survivor-weight exclusion, singletons absent") {
    // clusters: {1,2,3} and {10,11}; docs 20,21 unclustered
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))
      .toDF("node", "cluster_id")
    val docs = Seq((1L, 100L), (2L, 7L), (3L, 9L), (10L, 5L), (11L, 50L),
      (20L, 1000L), (21L, 1L)).toDF("doc_id", "w")
    val out = graft.ops.TextDedup.dedupImpact(labels, docs, "doc_id",
      org.apache.spark.sql.functions.col("w"))
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    // size 3: one cluster, removes 2 docs; survivor is id 1 (w=100),
    // tokens removed = 7 + 9 = 16
    assert(out(3L) == ((3L, 1L, 2L, 16L)))
    // size 2: survivor id 10 (w=5), removed = 50
    assert(out(2L) == ((2L, 1L, 1L, 50L)))
    assert(out.keySet == Set(2L, 3L), "singletons contribute nothing")
  }

  test("selfScrub: clones and copied suffixes cut, first occurrence survives") {
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val fix = Seq(
      (1L, a),                       // first occurrence of every window
      (2L, a),                       // exact clone -> fully scrubbed
      (3L, "intro words then " + a), // copied tail -> cut, intro kept
      (4L, "unique content nothing shared here at all")
    ).toDF("doc_id", "text")
    val out = TextDedup.selfScrub(fix, "doc_id", "text", 5)
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    def ph(s: String): Long = {
      var h = 0L; s.foreach(c => h = (h * 31 + c.toInt) % 1000000007L); h
    }
    assert(out(1L) == ((1L, 10L, 10L, ph(a))), "first occurrence intact")
    assert(out(2L) == ((2L, 10L, 0L, 0L)), "clone fully scrubbed")
    assert(out(3L) == ((3L, 13L, 3L, ph("intro words then"))),
      "copied span cut, original prefix kept")
    assert(out(4L)._3 == 7L, "unique doc intact")
  }

  test("selfScrub: a within-document repeat keeps only its first occurrence") {
    val fix = Seq((7L, "a b c d e x a b c d e")).toDF("doc_id", "text")
    val out = TextDedup.selfScrub(fix, "doc_id", "text", 5)
      .as[(Long, Long, Long, Long)].collect().head
    def ph(s: String): Long = {
      var h = 0L; s.foreach(c => h = (h * 31 + c.toInt) % 1000000007L); h
    }
    // the 'a b c d e' window repeats at pos 7 -> tokens 7..11 cut
    assert(out == ((7L, 11L, 6L, ph("a b c d e x"))))
  }

  test("selfScrub: sub-window docs pass through re-digested, empty docs absent") {
    val fix = Seq((1L, "tiny doc"), (2L, "tiny doc"), (3L, ""))
      .toDF("doc_id", "text")
    val out = TextDedup.selfScrub(fix, "doc_id", "text", 5)
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    def ph(s: String): Long = {
      var h = 0L; s.foreach(c => h = (h * 31 + c.toInt) % 1000000007L); h
    }
    // 2-token docs have no 5-windows: both survive whole even as clones
    assert(out(1L) == ((1L, 2L, 2L, ph("tiny doc"))))
    assert(out(2L) == ((2L, 2L, 2L, ph("tiny doc"))))
    assert(!out.contains(3L), "zero-token doc absent")
  }

  test("selfScrubStep: sequential batches == one-shot; index grows to corpus") {
    val rnd = new scala.util.Random(20260816L)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee")
    val docs = (0 until 30).map { i =>
      (i.toLong, (0 until rnd.nextInt(14))
        .map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val n = 3
    val oneShot = TextDedup.selfScrub(
        docs.toDF("doc_id", "text"), "doc_id", "text", n)
      .as[(Long, Long, Long, Long)].collect().toSet
    var idx = TextDedup.emptyScrubIndex(spark)
    val got = scala.collection.mutable.Set[(Long, Long, Long, Long)]()
    Seq(0 until 10, 10 until 20, 20 until 30).foreach { r =>
      val step = TextDedup.selfScrubStep(
        docs.slice(r.start, r.end).toDF("doc_id", "text"), idx,
        "doc_id", "text", n)
      got ++= step.scrubbed.as[(Long, Long, Long, Long)].collect()
      idx = step.index.localCheckpoint()
    }
    assert(got.toSet == oneShot, "sequential == combined")
    val full = TextDedup.selfScrubIndex(
        docs.toDF("doc_id", "text"), "doc_id", "text", n)
      .as[(Long, Long)].collect().toSet
    assert(idx.as[(Long, Long)].collect().toSet == full,
      "grown index == whole-corpus index")
  }

  test("selfScrubStep: the earlier batch wins regardless of id order") {
    val s1 = TextDedup.selfScrubStep(
      Seq((100L, "x y z w v")).toDF("doc_id", "text"),
      TextDedup.emptyScrubIndex(spark), "doc_id", "text", 5)
    val s2 = TextDedup.selfScrubStep(
      Seq((1L, "x y z w v")).toDF("doc_id", "text"), // smaller id, LATER
      s1.index, "doc_id", "text", 5)
    assert(s1.scrubbed.as[(Long, Long, Long, Long)].collect().head._3 == 5L,
      "first-batch doc keeps its text")
    assert(s2.scrubbed.as[(Long, Long, Long, Long)].collect().head._3 == 0L,
      "later-batch clone is scrubbed even with a smaller id")
  }

  test("compactBandedIndex: TTL + earliest-per-bucket cap; probe is a subset") {
    // clone family: ids 0..9 share text (one hot bucket per band);
    // ids 20..22 are distinct singletons.
    val corpus = ((0 until 10).map(i => (i.toLong, "aa bb cc dd ee ff")) ++
      Seq((20L, "xx yy zz ww vv uu"), (21L, "pp qq rr ss tt uu"),
        (22L, "mm nn oo kk jj ii"))).toDF("doc_id", "text")
    val full = TextDedup.corpusBandIndex(corpus, "doc_id", "text").localCheckpoint()
    val compacted = TextDedup.compactBandedIndex(full, maxBucket = 3, minId = 2L)
      .localCheckpoint()
    // TTL: ids below the watermark are gone
    assert(compacted.filter($"id" < 2L).count() == 0)
    // cap: every (band, bucket) holds <= 3 rows, and the EARLIEST
    // surviving ids (2, 3, 4 from the clone family's post-TTL rows)
    val sizes = compacted.groupBy("band", "bucket").count()
      .as[(Int, Long, Long)].collect()
    assert(sizes.forall(_._3 <= 3L))
    val cloneIds = compacted.filter($"id" < 10L).select("id")
      .distinct().as[Long].collect().toSet
    assert(cloneIds == Set(2L, 3L, 4L), s"earliest survivors, got $cloneIds")
    // extra columns ride along
    assert(compacted.columns.toSet == full.columns.toSet)
    // probe subset contract: a batch probed against the compacted
    // index finds a subset of the uncompacted probe's pairs
    val batch = Seq((100L, "aa bb cc dd ee ff"), (101L, "mm nn oo kk jj ii"))
      .toDF("doc_id", "text")
    val pFull = TextDedup.incrementalDedupStep(batch, full, "doc_id", "text")
      .pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val pComp = TextDedup.incrementalDedupStep(batch, compacted, "doc_id", "text")
      .pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pComp.nonEmpty && pComp.subsetOf(pFull), s"$pComp vs $pFull")
    // the canonical earliest survivor is still hit through the cap
    assert(pComp.contains((100L, 2L)))
  }

  test("compactBandedIndex: same contract on the embedding nearDupIndex") {
    val vecs = ((0 until 6).map(i => (i.toLong, Seq(1f, 1f, 1f, 1f))) :+
      (10L, Seq(-1f, -1f, -1f, -1f))).toDF("vec_id", "embedding")
    val full = graft.ops.Similarity.nearDupIndex(vecs, "vec_id", "embedding",
      planes = 4, bands = 1).localCheckpoint()
    val compacted = TextDedup.compactBandedIndex(full, maxBucket = 2)
      .localCheckpoint()
    assert(compacted.filter($"id" < 10L).select("id")
      .distinct().as[Long].collect().toSet == Set(0L, 1L))
    val probe = Seq((50L, Seq(1f, 1f, 1f, 1f))).toDF("vec_id", "embedding")
    val pFull = graft.ops.Similarity.nearDupStep(probe, full, "vec_id",
        "embedding", 0.99, planes = 4, bands = 1)
      .pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val pComp = graft.ops.Similarity.nearDupStep(probe, compacted, "vec_id",
        "embedding", 0.99, planes = 4, bands = 1)
      .pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pComp == Set((0L, 50L), (1L, 50L)) && pComp.subsetOf(pFull))
  }

  test("selfScrub: negative doc id raises loudly") {
    val bad = Seq((-1L, "a b c d e f")).toDF("doc_id", "text")
    val e = intercept[Throwable] {
      TextDedup.selfScrub(bad, "doc_id", "text", 5).collect()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("doc id out of"))
  }

  test("sourceOverlapMatrix: unordered source pairs, diagonal kept, counts exact") {
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (6L, 7L))
      .toDF("id_a", "id_b")
    val src = Seq((1L, "cc"), (2L, "web"), (3L, "cc"), (4L, "web"),
      (5L, "web"), (6L, "books"), (7L, "cc")).toDF("doc_id", "source")
    val out = TextDedup.sourceOverlapMatrix(pairs, src, "doc_id", "source")
      .as[(String, String, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    // (1,2)=cc-web, (1,3)=cc-cc, (2,3)=cc-web, (4,5)=web-web, (6,7)=books-cc
    assert(out == Map(
      ("cc", "web") -> 2L, ("cc", "cc") -> 1L,
      ("web", "web") -> 1L, ("books", "cc") -> 1L))
  }
}
