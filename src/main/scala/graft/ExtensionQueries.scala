package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{TextAnalysis, TextFeatures}
import graft.ops.{AsOfJoin, Behavior, BloomPrune, BpeTrainer, Clustering, Contamination, Curation, EvalMetrics, FuzzyJoin, GraphRank, Multimodal, Packing, Profiler, Quality, Quantize, RangeJoin, Relational, Similarity, Sketches, SkewJoin, Spectral, TermStats, TextDedup, VideoContainers, ZOrder}

/** Beyond-reference operators for large-scale training-data pipelines
  * (SURVEY §7.6): dedup family, similarity search, text analysis,
  * multimodal plumbing — each exposed as a driver-checkable query over
  * the synthetic `documents` / `embeddings` tables with a DuckDB oracle.
  *
  * Duplicate-detection queries run over a constructed corpus (documents ∪
  * exact clones ∪ 60%-prefix truncations) because the raw synthetic table
  * has no duplicates — the construction is mirrored verbatim in each
  * oracle's `corpus` CTE.
  *
  * Cross-engine determinism: every hash is a left-to-right polynomial
  * fold mod 1e9+7 over code points; every float is a left-to-right double
  * fold in array index order — both reproducible bit-for-bit in DuckDB's
  * list_reduce/list_transform.
  */
/** q255's corruption literals, interpolated into BOTH the Spark query
  * and the DuckDB oracle so the injected bytes are identical: "café ’s"
  * whose UTF-8 got read as latin-1 (the canonical mojibake), and a
  * decoder-gave-up tail (U+FFFD + the C1 NEL control). */
private[graft] object EncodingQaFixture {
  val Mojibake: String = "caf\u00C3\u00A9 \u00E2\u0080\u0099s"
  val Corrupt: String = "bad\uFFFDchar \u0085next"
}

object ExtensionQueries {

  /** q24 stop-shingle cap: shingles present in more than this many
    * distinct texts are excluded (identically in Spark and the oracle). */
  private val StopShingleDf = 100L

  // ---- Spark-side corpus construction (mirrors the corpus CTE) ---------

  /** The near-dup "daily batch": 60%-prefix truncations of every 5th
    * doc, shifted to ids +20000 — ONE spelling shared by demoCorpus,
    * q65, and q67 (each oracle mirrors it as its `trunc` CTE; a change
    * here must change those CTEs too). */
  private def truncDocs(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), TextFeatures.tokens(col("text")).as("__toks"))
    .filter(col("doc_id") % 5 === 0 && size(col("__toks")) >= 5)
    .select((col("doc_id") + 20000).as("doc_id"),
      concat_ws(" ", slice(col("__toks"), lit(1),
        floor(size(col("__toks")) * 3 / 5).cast("int"))).as("text"))

  private def demoCorpus(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), col("text"))
    val clones = base.select((col("doc_id") + 10000).as("doc_id"), col("text"))
    base.unionByName(clones).unionByName(truncDocs(docs))
  }

  /** documents with the (single parquet file) source fanned out for
    * compute-heavy per-doc stages — CONDITIONALLY, via the same guard as
    * the dedup operators: a well-partitioned 100 TB source must not pay
    * a corpus-wide round-robin shuffle just to enter a per-doc
    * projection. */
  private def docsFanned(s: SparkSession, d: String): DataFrame =
    TextDedup.fanOut(Tables.documents(s, d))

  /** Quality-score frame with the is-English label and source — the
    * shared input of the q180–q182 evaluation metrics (score as the
    * "classifier", lang = 'en' as the target class). */
  private def qualityLabeled(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    Curation.docQualityScorePpm(docs, "doc_id", "text")
      .join(docs.select(col("doc_id"), col("source"),
        (col("lang") === "en").cast("long").as("__lbl")), Seq("doc_id"))
  }

  private def embCorpus(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    e.unionByName(e.select((col("vec_id") + 10000).as("vec_id"), col("embedding")))
  }

  /** Expensive common prefixes shared by more than one declared query —
    * the MinHash+LSH candidate chain (q22/q36/q138), the exact
    * trigram-Jaccard truth pairs (q24/q138), the edit-distance pair
    * graph (q87/q106), the part co-purchase pair graph (q100/q250/q251)
    * and the HyperBall sketch chain (q250/q251) — are materialized once
    * per (session, dataset, name): localCheckpoint'ed so every consumer
    * reads the same computed RDD instead of re-running the whole chain
    * (the r2 bench paid the minhash chain twice; r10 measured the
    * hyperball chain paid twice and the Jaccard truth chain paid twice).
    * The FIRST consumer pays the build inside its own timed window — the
    * suite still computes every chain exactly once from the parquet
    * inputs; nothing survives across runs.
    *
    * The memo is RUN-SCOPED, not process-scoped: harnesses call
    * [[clearMemos]] per run. An unevictable map would pin the
    * checkpointed RDDs (and their sessions) for process lifetime — a
    * leak in any long-lived service embedding the query map. */
  private val frameMemo =
    scala.collection.mutable.HashMap.empty[(SparkSession, String, String), DataFrame]

  /** Persistent-RDD id backing each memoized frame — the set
    * [[BlockRelease]] must NOT unpersist between queries (a released
    * localCheckpoint is unrecoverable: its lineage was truncated).
    * Captured from the checkpointed frame's own LogicalRDD — NOT by
    * diffing the block store around the build, which over-captures the
    * chain's internal lazy checkpoints (transient by design; the
    * ContextCleaner reclaims them asynchronously, so a diff-captured
    * set decays under it). Keyed like [[frameMemo]] so a single memo
    * can be retired (and its block protection dropped) independently. */
  private val memoRddIds =
    scala.collection.mutable.HashMap.empty[(SparkSession, String, String), Int]

  /** Drop all memoized frames. The released DataFrame references let
    * Spark's ContextCleaner reclaim the checkpoint RDD blocks (or
    * [[BlockRelease.releaseTransient]] reclaims them synchronously once
    * the protection set is emptied here). */
  def clearMemos(): Unit = synchronized { frameMemo.clear(); memoRddIds.clear() }

  def protectedRddIds: Set[Int] = synchronized { memoRddIds.values.toSet }

  private[graft] def memoSize: Int = synchronized { frameMemo.size }

  /** Every declared query that can read each memo — directly or through
    * a dependent memo's build — so a sorted-order runner can retire a
    * memo (drop its block protection) as soon as its LAST consumer has
    * run, instead of pinning every chain's blocks for the whole pass
    * (r10 verdict: the pinned footprint taxed all ~200 later queries'
    * memory headroom). Releasing early is always SAFE, merely slow: a
    * released memo entry is gone from [[frameMemo]], so an unexpected
    * later consumer rebuilds the chain from the parquet inputs. */
  private[graft] val memoConsumers: Map[String, Seq[String]] = Map(
    "minhash_pairs" -> Seq("q22_dedup_minhash_lsh", "q138_dedup_calibration",
      "q147_best_survivor", "q36_dedup_clusters"),
    "ngram_truth_pairs" -> Seq("q24_dedup_ngram_jaccard", "q138_dedup_calibration"),
    "edit_join_pairs" -> Seq("q87_edit_join", "q106_entity_clusters"),
    "copurchase_pairs" -> Seq("q100_label_propagation", "q101_kcore",
      "q131_clustering_coeff", "q250_hyperball", "q251_harmonic_centrality"),
    "copurchase_balls" -> Seq("q250_hyperball", "q251_harmonic_centrality"),
    "supplier_part_edges" -> Seq("q63_pagerank", "q68_pagerank_redistribute",
      "q110_personalized_pagerank", "q115_hits", "q117_hop_distance",
      "q118_random_walks", "q127_assortativity", "q130_modularity"),
    "minhash_cc_labels" -> Seq("q147_best_survivor", "q36_dedup_clusters"),
    "bpe_merges" -> Seq("q77_bpe_merges", "q78_bpe_segment", "q139_bpe_fertility",
      "q191_tokenizer_fit"),
    "bpe_segmented" -> Seq("q78_bpe_segment", "q139_bpe_fertility"),
  )

  /** Retire every memo whose consumers have ALL run, given that the
    * suite executes in sorted-name order and `justRan` just finished —
    * called by the runners OUTSIDE any timed window. The next
    * [[BlockRelease.releaseTransient]] then reclaims the blocks. */
  def releaseMemosAfter(justRan: String): Unit = synchronized {
    val done = frameMemo.keys.filter { case (_, _, n) =>
      memoConsumers.get(n).exists(_.forall(_ <= justRan))
    }.toSeq
    done.foreach { k => frameMemo.remove(k); memoRddIds.remove(k) }
  }

  /** Build-or-reuse a named shared chain. LAZY checkpoint: the chain
    * fuses into the first consumer's own action (one pass computes the
    * chain AND that consumer's aggregation, persisting the blocks as a
    * side effect), where the r10 eager spelling ran the build as a
    * separate job and re-read the blocks — the measured q138/q139
    * first-consumer regression (driver: 9.4→22.9 s / 2.3→7.7 s). */
  private def memo(name: String, s: SparkSession, d: String)
                  (build: => DataFrame): DataFrame = synchronized {
    frameMemo.getOrElseUpdate((s, d, name), {
      val df = build.localCheckpoint(eager = false)
      df.queryExecution.analyzed.foreach {
        case lr: org.apache.spark.sql.execution.LogicalRDD =>
          memoRddIds((s, d, name)) = lr.rdd.id
        case _ => ()
      }
      df
    })
  }

  private def minhashPairs(s: SparkSession, d: String): DataFrame =
    memo("minhash_pairs", s, d) {
      TextDedup.minhashCandidates(
        demoCorpus(Tables.documents(s, d)), "doc_id", "text")
    }

  /** Exact trigram-Jaccard pairs over the demo corpus — the q24 query
    * body and q138's truth side, one spelling. */
  private def ngramTruthPairs(s: SparkSession, d: String): DataFrame =
    memo("ngram_truth_pairs", s, d) {
      TextDedup.ngramJaccardPairs(demoCorpus(Tables.documents(s, d)),
        "doc_id", "text", maxShingleDf = StopShingleDf)
    }

  /** Edit-distance pair graph over the 30-char prefixes + one-deletion
    * mutants — the q87 query body and q106's cluster input, one
    * spelling. */
  private def editJoinPairs(s: SparkSession, d: String): DataFrame =
    memo("edit_join_pairs", s, d) {
      val base = Tables.documents(s, d)
        .select(col("doc_id"), substring(col("text"), 1, 30).as("s"))
      val mut = base.filter(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 40000).as("doc_id"),
          concat(substring(col("s"), 1, 10), expr("substring(s, 12)")).as("s"))
      FuzzyJoin.editDistanceJoin(base.unionByName(mut), "doc_id", "s",
        maxDist = 2, minLen = 12)
    }

  /** Weighted part co-purchase pair graph ((a, b) with a < b, weight =
    * distinct orders sharing the pair), shared by q100 (weights), q101,
    * q131, q250 and q251 (pair set). One collect_set shuffle + in-core
    * pair expansion ([[graft.ops.GraphRank.keyedValuePairs]]) replaces
    * the old distinct + per-order self-join — same (a, b, w) rows
    * (baskets hold ≤ 7 lineitems at any TPC-H scale, so the per-order
    * expansion is a bounded constant). */
  private def coPurchasePairs(s: SparkSession, d: String): DataFrame =
    memo("copurchase_pairs", s, d) {
      graft.ops.GraphRank.keyedValuePairs(
          Tables.lineitem(s, d)
            .select(col("l_orderkey").as("o"), col("l_partkey").as("p")),
          "o", "p")
        .groupBy(col("a"), col("b"))
        .agg(count(lit(1)).as("w"))
    }

  /** HyperBall sketch estimates over the co-purchase pair set — q250's
    * query body and q251's input, one spelling. */
  private def coPurchaseBalls(s: SparkSession, d: String): DataFrame =
    memo("copurchase_balls", s, d) {
      graft.ops.GraphRank.hyperBall(
        coPurchasePairs(s, d).select(col("a"), col("b")), radii = 2)
    }

  /** Distinct directed supplier→part edge list (suppkey·2 → partkey·2+1,
    * the disjoint-id remap) — the shared input of the q63/q68/q110/
    * q115/q117/q118 graph family. Each operator still applies its own
    * `.distinct()` internally (contract unchanged); the memo removes the
    * repeated lineitem scan + 600k-row dedup shuffle per query. */
  private def supplierPartEdges(s: SparkSession, d: String): DataFrame =
    memo("supplier_part_edges", s, d) {
      Tables.lineitem(s, d).select(
        (col("l_suppkey") * 2).as("src"),
        (col("l_partkey") * 2 + 1).as("dst")).distinct()
    }

  /** Duplicate-cluster labels over the ≥0.75 MinHash pairs — the
    * connected-components pass shared verbatim by q36 and q147. */
  private def minhashClusters(s: SparkSession, d: String): DataFrame =
    memo("minhash_cc_labels", s, d) {
      graft.ops.ConnectedComponents.labels(
        minhashPairs(s, d).filter(col("est_jaccard") >= 0.75)
          .select(col("id_a").as("a"), col("id_b").as("b")))
    }

  /** The 3-round BPE merge table over the fanned corpus — trained once,
    * read by q77 (table), q78 (segmentation) and q139 (fertility). */
  private def bpeMergeTable(s: SparkSession, d: String): DataFrame =
    memo("bpe_merges", s, d) {
      BpeTrainer.trainMerges(docsFanned(s, d), "text", 3)
    }

  /** The corpus vocabulary segmented under [[bpeMergeTable]] — q78's
    * query body and q139's aggregation input, one spelling. */
  private def bpeSegmented(s: SparkSession, d: String): DataFrame =
    memo("bpe_segmented", s, d) {
      val table = bpeMergeTable(s, d)
        .orderBy(col("rnk")).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      BpeTrainer.applyMerges(docsFanned(s, d), "text", table)
    }

  /** Exercised by q22/q36 and MemoSpec (package-private seam). */
  private[graft] def minhashPairsFor(s: SparkSession, d: String): DataFrame =
    minhashPairs(s, d)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Exact dedup: one shuffle keyed on the text hash.
    "q21_dedup_exact" -> ((s, d) =>
      TextDedup.exactDupGroups(demoCorpus(Tables.documents(s, d)), "doc_id", "text")
        .orderBy(col("canonical_id"))),

    // MinHash(16) + LSH(4 bands): bucket-join candidates, no all-pairs.
    // Shares the materialized candidate chain with q36.
    "q22_dedup_minhash_lsh" -> ((s, d) =>
      minhashPairs(s, d).orderBy(col("id_a"), col("id_b"))),

    // SimHash(30 bits) near-dups via the pigeonhole byte-band join.
    "q23_dedup_simhash" -> ((s, d) =>
      TextDedup.simhashPairs(demoCorpus(Tables.documents(s, d)), "doc_id", "text")
        .orderBy(col("id_a"), col("id_b"))),

    // Exact trigram Jaccard over shared-shingle candidates, with the
    // stop-shingle cap (doc frequency over distinct texts) bounding the
    // hot-key fan-out of the shingle-equality join. Shares the
    // materialized chain with q138's truth side (one spelling).
    "q24_dedup_ngram_jaccard" -> ((s, d) =>
      ngramTruthPairs(s, d).orderBy(col("id_a"), col("id_b"))),

    // Duplicate clusters: connected components (min-label propagation)
    // over high-confidence MinHash pairs — pairs become groups, one
    // representative (the min id) per component.
    "q36_dedup_clusters" -> ((s, d) =>
      minhashClusters(s, d)
        .select(col("node").as("doc_id"), col("cluster_id"))
        .orderBy(col("doc_id"))),

    // Embedding-cosine near-dup pairs via sign-LSH buckets.
    "q25_embedding_neardup" -> ((s, d) =>
      Similarity.nearDupPairs(embCorpus(s, d), "vec_id", "embedding", 0.99)
        .orderBy(col("id_a"), col("id_b"))),

    // Exact ANN baseline: brute-force cosine top-5, broadcast queries.
    "q26_knn_bruteforce" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 20), "vec_id", "embedding", 5)
        .withColumnRenamed("rank", "rnk")
        .orderBy(col("query_id"), col("rnk"))
    }),

    // Scale-path ANN: sign-LSH bucketed top-3 (equi-join, no cross join).
    "q27_knn_lsh" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.lshTopK(e, e.filter(col("vec_id") < 20), "vec_id", "embedding", 3)
        .withColumnRenamed("rank", "rnk")
        .orderBy(col("query_id"), col("rnk"))
    }),

    // IVF-style ANN: fixed seed centroids, probe-2 inverted lists.
    "q35_knn_ivf" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.ivfTopK(e, e.filter(col("vec_id") < 20), "vec_id", "embedding", 5)
        .withColumnRenamed("rank", "rnk")
        .orderBy(col("query_id"), col("rnk"))
    }),

    // Stopword-hit language ID with deterministic alphabetical tiebreak.
    "q28_lang_id" -> ((s, d) =>
      docsFanned(s, d)
        .select(col("doc_id"), col("lang"),
          TextAnalysis.langId(TextFeatures.tokens(col("text"))).as("pred_lang"))
        .orderBy(col("doc_id"))),

    // Quality heuristics (length / stopword / alphabetic ratios).
    "q29_quality_score" -> ((s, d) => {
      val toks = TextFeatures.tokens(col("text"))
      val cols = TextAnalysis.qualityColumns(col("text"), toks)
        .map { case (n, c) => c.as(n) }
      docsFanned(s, d).select((col("doc_id") +: cols): _*).orderBy(col("doc_id"))
    }),

    // Token counting: whitespace + BPE-ish regex segmentation.
    "q30_token_stats" -> ((s, d) => {
      val toks = TextFeatures.tokens(col("text"))
      val cols = TextAnalysis.tokenCounts(col("text"), toks)
        .map { case (n, c) => c.as(n) }
      docsFanned(s, d).select((col("doc_id") +: cols): _*).orderBy(col("doc_id"))
    }),

    // Document fingerprints: full rolling hash + winnowing min over
    // 8-token windows.
    "q31_fingerprint" -> ((s, d) => {
      val toks = TextFeatures.tokens(col("text"))
      val cols = TextAnalysis.fingerprintColumns(col("text"), toks, 8)
        .map { case (n, c) => c.as(n) }
      docsFanned(s, d).select((col("doc_id") +: cols): _*).orderBy(col("doc_id"))
    }),

    // Multimodal plumbing: binary payload + per-partition batch decode
    // (text/plain codec — deterministic code-point fold, oracle-checkable).
    "q32_multimodal_meta" -> ((s, d) =>
      Multimodal.extractFeatures(
        Multimodal.asMediaTable(docsFanned(s, d), "doc_id", "text"))
        .toDF().orderBy(col("doc_id"))),

    // Real binary codec end-to-end: synthetic PNGs (dims are pure
    // functions of doc_id) encoded AND header-decoded with JDK ImageIO;
    // the oracle recomputes the decoded metadata arithmetically, so any
    // codec-path breakage (wrong dims, wrong format, corrupt payload)
    // hash-mismatches.
    "q60_image_meta" -> ((s, d) =>
      Multimodal.imageMeta(
        Multimodal.syntheticImages(docsFanned(s, d), "doc_id"))
        .toDF().orderBy(col("doc_id"))),

    // Multimodal RESIZE: real ImageIO decode → deterministic
    // nearest-neighbor 8×8 thumbnail → ARGB raster checksum. The
    // oracle recomputes the resized raster from the synthetic gradient
    // arithmetic alone, so any codec or scaling defect hash-mismatches.
    "q71_image_resize" -> ((s, d) =>
      Multimodal.resizedChecksums(
          Multimodal.syntheticImages(docsFanned(s, d), "doc_id"), 8, 8)
        .toDF().select(col("doc_id"), col("checksum"))
        .orderBy(col("doc_id"))),

    // Multimodal FRAME-SAMPLE: every 3rd 100-code-point frame per
    // payload (the keyframe access pattern; text payloads stand in for
    // the codec — the batching/indexing/sampling plumbing is the real
    // part).
    "q72_frame_sample" -> ((s, d) =>
      Multimodal.frameSample(
          Multimodal.asMediaTable(docsFanned(s, d), "doc_id", "text"), 3)
        .toDF().orderBy(col("doc_id"), col("frame_idx"))),

    // Multimodal AUDIO: real javax.sound RIFF/WAVE parse of synthetic
    // PCM16 payloads — format, frame count, and the unsigned-16 sample
    // fold, all recomputed arithmetically by the oracle.
    "q73_audio_meta" -> ((s, d) =>
      Multimodal.audioMeta(
          Multimodal.syntheticAudio(docsFanned(s, d), "doc_id"))
        .toDF().orderBy(col("doc_id"))),

    // BPE merge-table training (3 rounds): the tokenizer-training step
    // — corpus collapses once to its word-frequency vocab, each round
    // is one pair-count aggregate + a TakeOrdered argmax, merges apply
    // as the greedy-leftmost fold. Driver state = the merge table.
    "q77_bpe_merges" -> ((s, d) =>
      bpeMergeTable(s, d)
        .select(col("rnk"), col("left").as("merge_left"),
          col("right").as("merge_right"), col("freq"))
        .orderBy(col("rnk"))),

    // BPE segmentation: train 3 merges, then APPLY them to the corpus
    // vocabulary in training order — the tokenizer's full
    // train-then-segment cycle, all vocab-bounded after the one corpus
    // collapse.
    "q78_bpe_segment" -> ((s, d) =>
      bpeSegmented(s, d).orderBy(col("word"))),

    // Product-quantization codes: 8 subvectors against the first-16
    // codebook — m codes per vector replace 64 floats; assignment is
    // one native codegen'd projection, no per-(row, code) explode.
    "q143_pq_codes" -> ((s, d) =>
      Quantize.pqCodes(Tables.embeddings(s, d), "vec_id", "embedding")
        .orderBy(col("vec_id"), col("sub"))),

    // Quantile-shift drift: event-value p50/p90 before vs after the
    // period midpoint, per type — the drift view TVD can't localize.
    "q201_quantile_shift" -> ((s, d) =>
      Profiler.quantileShift(Tables.events(s, d), "event_type",
          expr("floor(value * 1000)"),
          expr("floor(unix_timestamp(ts)) >= 1706054400"),
          pcts = Seq(50, 90))
        .orderBy(col("event_type"), col("pct"))),

    // kNN label agreement over the LSH neighbor frame: the label-noise
    // detector — low-agreement points are review candidates.
    "q199_label_noise" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.labelAgreement(
          Similarity.lshTopK(e, e, "vec_id", "embedding", k = 5),
          e.select(col("vec_id"), col("label")),
          "vec_id", "label", minAgreePpm = 400000L)
        .orderBy(col("query_id"))
    }),

    // Conversion-lag percentiles per first-touch channel: the
    // time-to-convert distribution attribution credit hides.
    "q200_conversion_lag" -> ((s, d) =>
      Behavior.conversionLag(Tables.events(s, d), "user_id", "ts",
          "event_id", "event_type", conversionType = "purchase",
          lookbackSec = 7200L, pcts = Seq(50, 90))
        .orderBy(col("event_type"), col("pct"))),

    // Attribution: first/last/linear credit of purchase value to the
    // touches in a 2 h lookback — credit always sums to the total.
    "q197_attribution" -> ((s, d) =>
      Behavior.attribution(Tables.events(s, d), "user_id", "ts",
          "event_id", "event_type",
          expr("greatest(floor(value * 1000), 0)"),
          conversionType = "purchase", lookbackSec = 7200L)
        .orderBy(col("event_type"))),

    // Rate spikes: 6 h buckets vs each type's own uniform Poisson
    // baseline at 3.0 sigma, square-root-free.
    "q198_rate_spikes" -> ((s, d) =>
      Behavior.rateSpikes(Tables.events(s, d), "event_type", "ts",
          bucketSec = 21600L, kTenths = 30L)
        .orderBy(col("event_type"), col("bucket"))),

    // Isotonic calibration: the monotone fix for the quality score's
    // probabilities — binned PAVA via the minimax closed form.
    "q195_isotonic" -> ((s, d) =>
      EvalMetrics.isotonicCalibrationPpm(qualityLabeled(s, d),
          col("score_ppm"), col("__lbl"), bins = 10)
        .orderBy(col("bin"))),

    // Source-interleaved training order: round-robin across sources,
    // hash-shuffled within each — the curriculum-neutral schedule.
    "q196_interleave" -> ((s, d) =>
      Curation.sourceInterleave(Tables.documents(s, d), "doc_id",
          "text", "source")
        .orderBy(col("global_pos"))),

    // Cluster purity: q39's k-means assignments vs the embedding
    // labels — which clusters are clean, which are mixed.
    "q193_cluster_purity" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val assign = Clustering.lloydAssign(
          e.select(col("vec_id"), col("embedding")),
          "vec_id", "embedding", 8, 2)
        .select(col("vec_id"), col("cid").cast("long").as("cid"))
      Clustering.clusterPurityPpm(
          assign.join(e.select(col("vec_id"), col("label")), Seq("vec_id")),
          "cid", "label")
        .orderBy(col("cluster_id"))
    }),

    // Rank-biased overlap: how much did dropping one probe term move
    // the TOP of the BM25 ranking — p=0.9, depth 50.
    "q194_rbo" -> ((s, d) => {
      val docs = docsFanned(s, d)
      TermStats.rboPpm(
        TermStats.bm25Rank(docs, "doc_id", "text",
          Seq("join", "vector", "stream")),
        TermStats.bm25Rank(docs, "doc_id", "text", Seq("join", "vector")),
        "doc_id", depth = 50, pPpm = 900000L)
    }),

    // Contamination spans: WHERE eval text leaks into the corpus —
    // merged token extents per contaminated doc, n=5 grams.
    "q190_contamination_spans" -> ((s, d) => {
      val docs = docsFanned(s, d)
      Contamination.contaminationSpans(docs,
          Tables.documents(s, d).filter(col("doc_id") % 10 === 0),
          "doc_id", "text", n = 5)
        .orderBy(col("doc_id"))
    }),

    // Tokenizer fit: pieces-per-word histogram under the 3-merge BPE
    // table — the fertility / domain-mismatch readout. The table is the
    // SAME trainMerges(docsFanned, 3) frame q77/q78/q139 read, so it
    // comes from the shared memo instead of retraining (guide §2.4:
    // the training pass — vocab + 3 merge rounds — ran once already).
    "q191_tokenizer_fit" -> ((s, d) => {
      val table = bpeMergeTable(s, d)
        .orderBy(col("rnk")).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      BpeTrainer.fitHistogram(docsFanned(s, d), "text", table)
        .orderBy(col("n_pieces"))
    }),

    // Expected calibration error: the q181 bins rolled to (ECE, MCE).
    "q192_ece" -> ((s, d) =>
      EvalMetrics.ecePpm(qualityLabeled(s, d), col("score_ppm"),
        col("__lbl"), bins = 10)),

    // Brier score per source: does the quality score's claimed
    // probability survive the squared-error bill — AUC can't see this.
    "q187_brier" -> ((s, d) =>
      EvalMetrics.brierPpm(qualityLabeled(s, d), "source",
          col("score_ppm"), col("__lbl"))
        .orderBy(col("source"))),

    // Per-class PRF for the lang-id heuristic vs metadata — the
    // readable rollup of q95's confusion matrix.
    "q188_per_class_prf" -> ((s, d) => {
      val docs = docsFanned(s, d)
      EvalMetrics.perClassPrf(
          docs.select(TextAnalysis.langId(TextFeatures.tokens(col("text")))
            .as("pred"), col("lang")),
          col("pred"), col("lang"))
        .orderBy(col("label"))
    }),

    // Robust z-scores for event values per type: median/MAD
    // standardization as a per-row feature, signed tenths.
    "q189_robust_z" -> ((s, d) =>
      Profiler.robustZ(Tables.events(s, d), "event_type", "event_id",
          expr("floor(value * 1000)"))
        .orderBy(col("id"))),

    // PII density by source: the q44 salted corpus measured per
    // source, normalized per million tokens — the release-gate number.
    "q184_pii_density" -> ((s, d) => {
      val salted = docsFanned(s, d).withColumn("text", concat(col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com now"))).otherwise(lit("")),
        when(col("doc_id") % 4 === 0,
          concat(lit(" call 555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
            lit(" today"))).otherwise(lit(""))))
      Profiler.piiDensityBySource(salted, "source", "text")
        .orderBy(col("source"))
    }),

    // Trimmed mean of event values (10% each side) per type — the
    // robust location next to q156's MAD fences.
    "q185_trimmed_mean" -> ((s, d) =>
      Profiler.trimmedMean(Tables.events(s, d), "event_type",
          expr("floor(value * 1000)"), trimPct = 10)
        .orderBy(col("event_type"))),

    // Repeat-run detector over a loop-salted corpus: longest
    // consecutive one-token run per doc — the generation-loop signal.
    "q186_repeat_runs" -> ((s, d) => {
      val salted = docsFanned(s, d).withColumn("text", concat(col("text"),
        when(col("doc_id") % 3 === 0,
          expr("repeat(' loop', cast(doc_id % 6 + 2 as int))"))
          .otherwise(lit(""))))
      TermStats.repeatRuns(salted, "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // Group AUC: does the quality heuristic actually rank English
    // (the dominant curated class here) above the rest, per source?
    "q180_auc" -> ((s, d) => {
      EvalMetrics.aucPpm(qualityLabeled(s, d), "source",
          col("score_ppm"), col("__lbl"))
        .orderBy(col("source"))
    }),

    // Calibration bins: the quality score read as a probability —
    // claimed ppm vs empirical positive rate in 10 cells.
    "q181_calibration" -> ((s, d) =>
      EvalMetrics.calibrationBins(qualityLabeled(s, d),
          col("score_ppm"), col("__lbl"), bins = 10)
        .orderBy(col("bin"))),

    // Threshold sweep: precision/recall/F1 at every distinct quality
    // cut in one pass — the quality-gate operating-point table.
    "q182_threshold_sweep" -> ((s, d) =>
      EvalMetrics.thresholdSweep(qualityLabeled(s, d),
          col("score_ppm"), col("__lbl"))
        .orderBy(col("threshold"))),

    // Cohen's kappa: lang-id heuristic vs the metadata lang column —
    // chance-corrected agreement of the two labelings.
    "q183_kappa" -> ((s, d) => {
      val docs = docsFanned(s, d)
      EvalMetrics.cohensKappaPpm(
        docs.select(TextAnalysis.langId(TextFeatures.tokens(col("text")))
          .as("pred"), col("lang")),
        col("pred"), col("lang"))
    }),

    // Grade correlation (scale-safe Spearman, B=1000): does event value
    // drift with time, per event type — rank moments stay in exact
    // integer range at any corpus size.
    "q175_spearman_grade" -> ((s, d) =>
      Behavior.spearmanGradePpm(Tables.events(s, d), "event_type",
          expr("floor(unix_timestamp(ts))"), expr("floor(value * 1000)"))
        .orderBy(col("event_type"))),

    // Chunking-waste planner: price four candidate max_lens from the
    // length histogram before paying for any chunking pass.
    "q176_chunk_waste" -> ((s, d) =>
      Packing.chunkWastePlan(Tables.documents(s, d), "text",
          Seq(16, 32, 64, 128))
        .orderBy(col("max_len"))),

    // Embedding anisotropy probe: mean pairwise dot via the closed
    // form ‖Σv‖² − Σ‖v‖² — one corpus pass, no pair join.
    "q177_anisotropy" -> ((s, d) =>
      Spectral.anisotropyPpm(Tables.embeddings(s, d), "embedding")),

    // Token burstiness: Fano factor of per-doc counts vs the Poisson
    // 10⁶ baseline — the concentrated-token (template/spam) detector.
    "q178_burstiness" -> ((s, d) =>
      TermStats.burstinessPpm(docsFanned(s, d), "doc_id", "text",
          minTotal = 30L, k = 50)
        .orderBy(col("vmr_ppm").desc, col("token").asc)),

    // Histogram-matched resample: thin the corpus so its length
    // distribution matches the English subset's, hash-deterministic.
    "q179_match_resample" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Curation.matchResample(docs, docs.filter(col("lang") === "en"),
          "doc_id", "text", bucketWidth = 10)
        .orderBy(col("doc_id"))
    }),

    // Deterministic word-dropout augmentation (15%, variant 1) — the
    // auditable text-augmentation primitive, hash in place of RNG.
    "q174_token_dropout" -> ((s, d) =>
      Curation.tokenDropout(docsFanned(s, d), "doc_id", "text",
          dropPermille = 150, variant = 1)
        .orderBy(col("doc_id"))),

    // k-anonymity audit at k=10 over the (lang, source) quasi-
    // identifier — the re-identification risk number per release.
    "q172_k_anonymity" -> ((s, d) =>
      Profiler.kAnonymityAudit(Tables.documents(s, d),
        Seq("lang", "source"), 10L)),

    // Corpus self-similarity probe: one hash-partner per doc, exact
    // trigram Jaccard — the templated-corpus detector at |docs| cost.
    "q173_self_similarity" -> ((s, d) =>
      TextDedup.selfSimilarityProbe(docsFanned(s, d), "doc_id", "text")
        .orderBy(col("id_a"))),

    // Signed-φ² domain markers: which tokens separate English from the
    // rest — the readable shortlist behind q150's DSIR scores.
    "q171_domain_markers" -> ((s, d) =>
      TermStats.domainMarkersPpm(
          docsFanned(s, d).withColumn("__is_en", col("lang") === "en"),
          "text", "__is_en", minCount = 20, topK = 40)
        .orderBy(abs(col("phi2_signed_ppm")).desc, col("token").asc)),

    // Stratified 5-fold CV assignment per language: exact fold
    // balance inside every stratum, hash-shuffled, deterministic.
    "q170_kfold" -> ((s, d) =>
      Curation.stratifiedKFold(Tables.documents(s, d), "doc_id", "text",
          "lang", k = 5)
        .orderBy(col("lang"), col("rnk"))),

    // Purged temporal split: cutoff Jan 24 + per-user 1-day embargo —
    // the time-series leakage-safe split next to q151's cluster split.
    "q169_temporal_split" -> ((s, d) =>
      Behavior.temporalSplit(Tables.events(s, d), "user_id", "ts",
          "event_id", cutoffSec = 1706054400L, embargoSec = 86400L)
        .orderBy(col("id"))),

    // Deterministic negative edges on the parity-encoded supplier→part
    // graph (every 10th supplier) — link-prediction training pairs.
    "q168_negative_edges" -> ((s, d) => {
      val edges = Tables.lineitem(s, d)
        .filter(col("l_suppkey") % 10 === 0)
        .select((col("l_suppkey") * 2).as("src"),
          (col("l_partkey") * 2 + 1).as("dst"))
      GraphRank.negativeEdges(edges, "src", "dst")
        .orderBy(col("src"), col("rnk"))
    }),

    // Dataset card: one-row corpus summary (volume, diversity, dup
    // share, median length) over documents ∪ exact clones.
    "q167_data_card" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("text"), col("lang"), col("source"))
      val corpus = docs.unionByName(
        docs.select((col("doc_id") + 10000).as("doc_id"), col("text"),
          col("lang"), col("source")))
      Profiler.dataCard(corpus, "doc_id", "text", "lang", "source")
    }),

    // LSH s-curve planner: P(candidate | s) for four (bands, rows)
    // configs on a 5% similarity grid — pick parameters BEFORE paying
    // for a corpus pass; integer powers, bit-identical table.
    "q166_lsh_scurve" -> ((s, d) =>
      TextDedup.lshSCurvePpm(s, Seq((2, 8), (4, 4), (8, 2), (16, 4)))
        .orderBy(col("bands"), col("rows_per_band"), col("s_pct"))),

    // ANN recall@3: the LSH path graded against brute-force truth per
    // query — the parameter-tuning loop, oracle-checked.
    "q165_ann_recall" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.annRecallReport(e, e.filter(col("vec_id") < 20),
          "vec_id", "embedding", 3)
        .orderBy(col("query_id"))
    }),

    // Dedup impact: q36's clusters + token weights — the cluster-size
    // histogram with doc/token savings under keep-lowest-id.
    "q164_dedup_impact" -> ((s, d) => {
      val corpus = demoCorpus(Tables.documents(s, d))
      val pairs = minhashPairsFor(s, d).filter(col("est_jaccard") >= 0.75)
        .select(col("id_a").as("a"), col("id_b").as("b"))
      val labels = graft.ops.ConnectedComponents.labels(pairs)
      TextDedup.dedupImpact(labels, corpus, "doc_id",
          size(TextFeatures.tokens(col("text"))).cast("long"))
        .orderBy(col("cluster_size"))
    }),

    // Near-dup source overlap matrix: q22's LSH pairs at 0.75 rolled
    // to (source, source) counts — which dumps copy from which.
    "q163_source_overlap" -> ((s, d) => {
      val pairs = minhashPairsFor(s, d).filter(col("est_jaccard") >= 0.75)
      val src = demoCorpus(Tables.documents(s, d))
        .select(col("doc_id"), (col("doc_id") % 10000).as("__base"))
        .join(Tables.documents(s, d)
          .select(col("doc_id").as("__base"), col("source")), Seq("__base"))
        .select(col("doc_id"), col("source"))
      TextDedup.sourceOverlapMatrix(pairs, src, "doc_id", "source")
        .orderBy(col("src_a"), col("src_b"))
    }),

    // Signed R² of event value vs day per type — the metric-drift
    // detector: direction + strength, sqrt-free, integer-exact.
    "q162_corr_r2" -> ((s, d) =>
      Behavior.corrSignedR2Ppm(Tables.events(s, d), "event_type",
          datediff(to_date(col("ts")), lit("1970-01-01")),
          floor(col("value")))
        .orderBy(col("event_type"))),

    // Tail-vocab rate per source: share of token occurrences outside
    // the corpus top-200 head — the junk-token source detector.
    "q161_tail_vocab" -> ((s, d) =>
      TermStats.tailVocabRatePpm(docsFanned(s, d), "source", "text", 200L)
        .orderBy(col("source"))),

    // Water-filling: 10k-token budget over languages — small langs
    // cap at their full size, the rest split the remainder equally.
    "q160_water_fill" -> ((s, d) =>
      Curation.waterFillAlloc(docsFanned(s, d), "lang",
        size(TextFeatures.tokens(col("text"))).cast("long"), budget = 10000L)),

    // MMR diverse top-5 vs query vector 0 (λ = 0.7): relevance minus
    // max-similarity-to-picked — kNN without the k near-copies.
    "q159_mmr_select" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val qv = e.filter(col("vec_id") === 0).select(col("embedding"))
        .head().getSeq[Float](0).toArray
      Similarity.mmrSelect(e.filter(col("vec_id") > 0), "vec_id",
          "embedding", qv, k = 5)
        .orderBy(col("rnk"))
    }),

    // Benford first-digit audit of prices vs the bounded quantity
    // column — the fabricated-data detector, log-free.
    "q158_benford" -> ((s, d) =>
      Profiler.benfordPpm(Tables.lineitem(s, d).select(
          floor(col("l_extendedprice")).cast("long").as("price"),
          floor(col("l_quantity")).cast("long").as("qty")),
        Seq("price", "qty"))
        .orderBy(col("col_name"), col("digit"))),

    // Type sniffing over a staged all-VARCHAR frame: anchored-regex
    // class counts + a 95% verdict — the pre-schema inference step.
    "q157_type_sniff" -> ((s, d) => {
      val staged = Tables.lineitem(s, d).select(
        col("l_orderkey").cast("string").as("c_int"),
        concat(col("l_orderkey").cast("string"), lit(","),
          lpad(col("l_linenumber").cast("string"), 2, "0")).as("c_dec"),
        date_format(col("l_shipdate"), "yyyy-MM-dd").as("c_date"),
        col("l_returnflag").as("c_text"),
        when(col("l_linenumber") % 2 === 0, lit("true"))
          .otherwise(lit("false")).as("c_bool"),
        when(col("l_orderkey") % 20 === 0, lit("n/a"))
          .otherwise(col("l_partkey").cast("string")).as("c_mixed"))
      Profiler.typeSniff(staged,
          Seq("c_int", "c_dec", "c_date", "c_text", "c_bool", "c_mixed"))
        .orderBy(col("col_name"))
    }),

    // MAD (Hampel) outliers of document length per source — the
    // 50%-breakdown robust audit next to q108's quartile fences.
    "q156_mad_outliers" -> ((s, d) =>
      Profiler.madOutliers(Tables.documents(s, d), "source", col("n_chars"))
        .orderBy(col("source"))),

    // Adjusted Rand Index between the lang and source partitions of
    // the corpus — chance-corrected purity, pure integer binomials.
    "q155_ari" -> ((s, d) =>
      Clustering.adjustedRandPpm(Tables.documents(s, d), "lang", "source")),

    // CCNet-style perplexity thirds per language: q51's LM score,
    // distributed rank, head/middle/tail — the keep-head+middle gate.
    "q154_perplexity_buckets" -> ((s, d) =>
      Curation.perplexityBuckets(docsFanned(s, d), "doc_id", "text", "lang")
        .orderBy(col("lang"), col("rnk"))),

    // Bibliographic coupling of suppliers on the supplier→part graph:
    // pairs sharing ≥3 parts, hub parts (in-degree > 40) capped out
    // before the wedge join — the q24 stop-key discipline.
    "q153_bib_coupling" -> ((s, d) => {
      val edges = Tables.lineitem(s, d)
        .select(col("l_suppkey").as("src"), col("l_partkey").as("dst"))
      GraphRank.bibCoupling(edges, "src", "dst",
          maxCitedFanin = 40, minCommon = 3)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Simplified silhouette over the labeled embeddings — the
    // cluster-quality headline (b−a)/max(a,b) in exact ppm.
    "q152_silhouette" -> ((s, d) =>
      Clustering.silhouettePpm(Tables.embeddings(s, d), "label", "embedding")
        .orderBy(col("label"))),

    // Leakage-safe split: q36's near-dup clusters pin every duplicate
    // group to ONE side of the train/val/test boundary — the per-doc
    // hash split leaves a 99% straddle probability per dup pair.
    "q151_leakage_split" -> ((s, d) => {
      val corpus = demoCorpus(Tables.documents(s, d))
      val pairs = minhashPairsFor(s, d).filter(col("est_jaccard") >= 0.75)
        .select(col("id_a").as("a"), col("id_b").as("b"))
      Curation.leakageSafeSplit(corpus, "doc_id", "text", pairs)
        .orderBy(col("doc_id"))
    }),

    // DSIR-style domain relevance: hashed-token rate difference
    // (target = English slice) scored per doc — the importance-weight
    // ranking that picks domain-like web text before training.
    "q150_domain_relevance" -> ((s, d) =>
      TermStats.domainRelevancePpm(
          Tables.documents(s, d).withColumn("__is_en", col("lang") === "en"),
          "doc_id", "text", "__is_en")
        .orderBy(col("doc_id"))),

    // Gini diversity of the corpus' categorical spreads — the
    // log-free mixture-evenness headline next to q132's per-key skew.
    "q149_gini_diversity" -> ((s, d) =>
      Profiler.giniDiversityPpm(Tables.documents(s, d),
          Seq("lang", "source"))
        .orderBy(col("col_name"))),

    // Hard-negative mining: per query the top-5 most similar vectors
    // that are NOT near-dups (LSH pair set at 0.99) — contrastive
    // negatives without false-negative poisoning.
    "q148_hard_negatives" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.hardNegatives(e, e.filter(col("vec_id") < 20), "vec_id",
          "embedding", k = 5)
        .orderBy(col("query_id"), col("rnk"))
    }),

    // Best-survivor dedup: q36's duplicate clusters, but the survivor
    // is the HIGHEST-QUALITY member (ppm score, ties to min id) — the
    // policy production pipelines actually want.
    "q147_best_survivor" -> ((s, d) => {
      val corpus = demoCorpus(Tables.documents(s, d))
      // q36's duplicate clusters (shared memoized chain; already a
      // materialized RDD, so the old fork-checkpoint is subsumed).
      val labels = minhashClusters(s, d)
      val scores = Curation.docQualityScorePpm(corpus, "doc_id", "text")
      val surv = labels.join(scores, labels("node") === scores("doc_id"))
        .groupBy(col("cluster_id"))
        .agg(min(struct((-col("score_ppm")).as("ns"),
          col("doc_id").as("id"))).as("__m"))
      labels.groupBy(col("cluster_id")).agg(count(lit(1)).as("n_members"))
        .join(surv, Seq("cluster_id"))
        .select(col("cluster_id"), col("__m.id").as("survivor_id"),
          (-col("__m.ns")).as("survivor_score_ppm"), col("n_members"))
        .orderBy(col("cluster_id"))
    }),

    // Pairwise label-centroid similarity: quantized centroid dots and
    // squared norms per label pair — cos^2 readable as an exact
    // rational, no sqrt, corpus scanned once.
    "q146_centroid_sims" -> ((s, d) =>
      Clustering.groupCentroidSims(Tables.embeddings(s, d), "label",
          "embedding")
        .orderBy(col("g_a"), col("g_b"))),

    // Weighted PageRank on the directed supplier->part graph, edge
    // weight = shipment count: (rank*w) div total-out-weight per edge,
    // same integer discipline as q63.
    "q145_pagerank_weighted" -> ((s, d) =>
      GraphRank.pageRankWeighted(
          Tables.lineitem(s, d).select(
            (col("l_suppkey") * 2).as("src"),
            (col("l_partkey") * 2 + 1).as("dst"),
            lit(1L).as("w")),
          "src", "dst", "w", iters = 3)
        .orderBy(col("node"))),

    // PQ asymmetric-distance kNN: per-query (sub, code) distance table
    // broadcast onto the code table, m lookups summed as quantized
    // longs — the corpus is never decoded.
    "q144_pq_adc_knn" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Quantize.pqAdcTopK(e, e.filter(col("vec_id") < 20), "vec_id",
          "embedding", 3)
        .orderBy(col("query_id"), col("rnk"))
    }),

    // Multi-probe sign-LSH kNN: q27's shape plus the 8 one-bit-flip
    // probe buckets per query — the recall knob with no new index.
    "q141_knn_multiprobe" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.multiProbeTopK(e, e.filter(col("vec_id") < 20), "vec_id",
          "embedding", 3)
        .withColumnRenamed("rank", "rnk")
        .orderBy(col("query_id"), col("rnk"))
    }),

    // Count-min join-cardinality estimate for the lineitem self-join on
    // l_partkey (the dedup/salting pre-flight number), next to the
    // exact sum of squared key counts.
    "q142_join_size_estimate" -> ((s, d) => {
      val li = Tables.lineitem(s, d).select(col("l_partkey"))
      Sketches.cmJoinCardinality(li, col("l_partkey"), li, col("l_partkey"))
    }),

    // Recency-decayed per-user activity on the 6h grid: one-bucket
    // half-life, truncating power-of-two halving — no float decay.
    "q140_decay_activity" -> ((s, d) =>
      Behavior.decayedActivity(Tables.events(s, d), "user_id", "ts",
          stepSec = 21600L)
        .orderBy(col("key"))),

    // Tokenizer fertility off the q78 BPE chain: corpus-weighted mean
    // pieces per token occurrence in exact ppm — the tokenizer-eval
    // number (high fertility = the merge table fits the corpus badly).
    "q139_bpe_fertility" -> ((s, d) =>
      // q78's segmented vocabulary (shared memoized chain), aggregated.
      bpeSegmented(s, d)
        .agg(count(lit(1)).as("n_words"), sum(col("n")).as("n_tokens"),
          sum(col("n") * col("n_syms")).as("n_pieces"))
        .select(col("n_words"), col("n_tokens"), col("n_pieces"),
          expr("n_pieces * 1000000 DIV n_tokens").as("fertility_ppm"))),

    // Span-level exact dedup (Lee et al. arXiv:2107.06499): duplicated
    // 5-token windows across DISTINCT docs, overlapping spans merged by
    // a running-max interval sweep into exact covered-token counts.
    // Corpus = documents ∪ 60%-prefix truncations (no clones, so
    // coverage is PARTIAL and the merge is actually exercised).
    "q79_span_dedup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      TextDedup.dupSpanCoverage(
          docs.select(col("doc_id"), col("text")).unionByName(truncDocs(docs)),
          "doc_id", "text", windowTokens = 5)
        .orderBy(col("doc_id"))
    }),

    // Winnowing fingerprints (MOSS, SIGMOD'03): per-window min-hash
    // selection with rightmost tie-break over 8-char grams, window 4 —
    // expected fingerprint density 2/(w+1). One explode + one per-doc
    // window function; no self-join.
    "q80_winnow_fingerprints" -> ((s, d) =>
      TextDedup.winnowFingerprints(docsFanned(s, d), "doc_id", "text",
          k = 8, w = 4)
        .orderBy(col("doc_id"))),

    // PMI collocations: top-50 most associated adjacent token pairs by
    // the exact ppm-quantized lift ratio c_ab·U²/(c_a·c_b·N) — log-free
    // (monotone), DECIMAL(38,0)-exact, vocab-bounded aggregates only.
    "q81_pmi_collocations" -> ((s, d) =>
      TermStats.pmiCollocations(docsFanned(s, d), "doc_id", "text",
        minCount = 5, topK = 50)),

    // Context-window chunking (packing's dual): 64-token windows at
    // stride 48 — every token covered, 16 tokens of overlap for
    // retrieval context. Pure explode, zero shuffle before the sort.
    "q82_doc_chunking" -> ((s, d) =>
      Packing.chunkDocuments(Tables.documents(s, d), "doc_id", "text",
          chunkTokens = 64, stride = 48)
        .orderBy(col("doc_id"), col("chunk_id"))),

    // Heaps-law vocabulary growth: per-doc new-type counts (one
    // map-side-combinable min on token) + the multi-column two-pass
    // prefix sum — the (cum_tokens, vocab_size) curve in doc order.
    "q83_vocab_growth" -> ((s, d) =>
      TermStats.vocabularyGrowth(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // Deterministic ±1 random projection (JL / SRP): 64-dim embeddings
    // onto 16 pseudo-random hyperplanes, sign bits packed per vector.
    // Pure per-row integer arithmetic — zero shuffle before the sort.
    "q84_random_projection" -> ((s, d) =>
      Similarity.randomProject(Tables.embeddings(s, d), "vec_id",
          "embedding", dims = 64, outDims = 16)
        .orderBy(col("vec_id"), col("pos"))),

    // Source-level quality gate (CCNet/RefinedWeb): ppm-integer source
    // scores from per-doc alpha + stopword ratios; whole sources below
    // the bar drop, survivors keep their source's score.
    "q85_source_quality_gate" -> ((s, d) =>
      Curation.sourceQualityFilter(Tables.documents(s, d), "doc_id", "text",
          "source", minScorePpm = 440000L)
        .orderBy(col("doc_id"))),

    // Deterministic weighted systematic sampling: documents selected
    // proportional to token count (one expected pick per 1000 tokens of
    // stream), via the same two-pass distributed prefix sum as q61 —
    // no randomness, no single-partition window.
    "q75_weighted_sample" -> ((s, d) =>
      Curation.weightedSystematicSample(Tables.documents(s, d), "doc_id",
          size(TextFeatures.tokens(col("text"))).cast("long"), 1000L)
        .orderBy(col("doc_id"))),

    // Distribution drift between per-language corpora: ppm-quantized
    // L1 distance of token-count histograms — the snapshot-vs-snapshot
    // drift monitor, all pairwise work on |groups|·|bins| rows.
    "q76_histogram_drift" -> ((s, d) =>
      Profiler.histogramDriftPpm(
          docsFanned(s, d).withColumn("__v",
            size(TextFeatures.tokens(col("text"))).cast("long")),
          "lang", col("__v"), 16L)
        .orderBy(col("g_a"), col("g_b"))),

    // Cross-corpus overlap from KMV sketches: three constructed corpora
    // with controlled overlap (doc_id % 2/3/5), pairwise Jaccard
    // estimated from pooled bottom-64 sketches alone — no
    // corpus-vs-corpus join ever happens.
    "q74_corpus_overlap" -> ((s, d) => {
      val base = Tables.documents(s, d)
      def part(m: Int, g: String) = base.filter(col("doc_id") % m === 0)
        .select(lit(g).as("corpus"), col("text"))
      Sketches.kmvPairwiseJaccard(
          part(2, "a").unionByName(part(3, "b")).unionByName(part(5, "c")),
          "corpus", col("text"), 64)
        .orderBy(col("g_a"), col("g_b"))
    }),

    // Per-label centroid accumulation over embeddings (classifier
    // prototypes): posexplode -> per-(label, dim) sums. Values are
    // quantized (floor(v*1e6) as long) so the partial-aggregate merge
    // order cannot perturb float sums — exact at any parallelism.
    "q33_label_centroids" -> ((s, d) =>
      Tables.embeddings(s, d)
        .select(col("label"), posexplode(col("embedding")))
        .select(col("label"), (col("pos") + 1).cast("long").as("pos"),
          floor(col("col").cast("double") * 1e6).cast("long").as("vq"))
        .groupBy(col("label"), col("pos"))
        .agg(sum(col("vq")).as("sum_q"), count(lit(1)).as("n"))
        .orderBy(col("label"), col("pos"))),

    // TF-IDF top-terms per document: (doc, term) counts joined with the
    // vocabulary-sized document frequency (broadcast); rational smooth
    // idf (N+1)/(df+1) — a documented variant chosen for exact
    // cross-engine reproducibility (single IEEE division, no libm);
    // weights rare terms harder than log-idf (see TermStats scaladoc).
    "q37_tfidf_topterms" -> ((s, d) =>
      TermStats.tfidfTopTerms(docsFanned(s, d), "doc_id", "text", 3)
        .orderBy(col("doc_id"), col("rnk"))),

    // Deterministic stratified sampling: first 50 docs per language
    // under (text-hash, id) order — the auditable-split primitive of a
    // training-data pipeline (hash plays the RNG; layout-independent).
    "q38_stratified_sample" -> ((s, d) =>
      TermStats.stratifiedSample(docsFanned(s, d), "lang", "doc_id",
          TextFeatures.charHash(col("text")), 50)
        .select(col("lang"), col("doc_id"), col("rnk"))
        .orderBy(col("lang"), col("rnk"))),

    // Lloyd k-means (k=8, 2 iterations, first-k seeds): model state
    // broadcast into one codegen'd argmax projection per iteration;
    // quantized-long centroid updates are merge-order-exact.
    "q39_kmeans" -> ((s, d) =>
      Clustering.lloydAssign(
          Tables.embeddings(s, d).select(col("vec_id"), col("embedding")),
          "vec_id", "embedding", 8, 2)
        .select(col("vec_id"), col("cid").cast("long").as("cid"), col("cosine"))
        .orderBy(col("vec_id"))),

    // BM25 retrieval scoring against a fixed probe query (log-free
    // Robertson idf; per-term scores floor-quantized before the per-doc
    // sum, so the total is exact under any merge order); global top-100
    // via sort+limit, not a one-partition window.
    "q41_bm25" -> ((s, d) =>
      TermStats.bm25Rank(docsFanned(s, d), "doc_id", "text",
          Seq("join", "vector", "stream"))
        .orderBy(col("rnk"))),

    // Symmetric per-vector int8 quantization of the embedding table
    // (the 4x-at-rest storage path); emitted per-dimension for the
    // value-exact oracle compare.
    "q42_int8_quantize" -> ((s, d) =>
      Quantize.int8(Tables.embeddings(s, d), "vec_id", "embedding")
        .select(col("vec_id"), posexplode(col("qvec")),
          floor(col("scale") * 1e6).as("scale_q"))
        .select(col("vec_id"), (col("pos") + 1).cast("long").as("pos"),
          col("col").cast("long").as("q"), col("scale_q"))
        .orderBy(col("vec_id"), col("pos"))),

    // End-to-end curation: quality gate -> exact dedup -> near-dup
    // cluster representatives, composed from the engine's own operators.
    "q40_curation" -> ((s, d) =>
      Curation.curate(demoCorpus(Tables.documents(s, d)), "doc_id", "text")
        .select(col("doc_id"), TextFeatures.charHash(col("text")).as("fp"))
        .orderBy(col("doc_id"))),

    // Batch sessionization: the window-composition counterpart of the
    // streaming flatMapGroupsWithState sessionize — lag() flags session
    // starts, a running sum assigns session ids, then per-session aggs.
    "q34_sessionize_batch" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val run = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .withColumn("__prev", lag(col("ts"), 1).over(byUser))
        .withColumn("__new",
          when(col("__prev").isNull ||
            unix_timestamp(col("ts")) - unix_timestamp(col("__prev")) > 1800, 1L)
            .otherwise(0L))
        .withColumn("session_id", sum(col("__new")).over(run))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast(graft.model.Schemas.money)).cast("double").as("total"),
          date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("start_ts"))
        .orderBy(col("user_id"), col("session_id"))
    }),

    // Benchmark decontamination: which corpus docs share any trigram
    // with the held-out eval slice (doc_id % 50 = 0)? Eval n-gram hash
    // set broadcast; exactly one corpus pass.
    "q43_decontaminate" -> ((s, d) => {
      val docs = docsFanned(s, d)
      Contamination.ngramOverlap(
        docs.filter(col("doc_id") % 50 =!= 0),
        docs.filter(col("doc_id") % 50 === 0), "doc_id", "text", 3)
        .orderBy(col("doc_id"))
    }),

    // PII scrub: regex detect counts + typed-placeholder redaction. The
    // raw synthetic text carries no PII, so the corpus is salted with
    // deterministic emails/phones (mirrored in the oracle CTE).
    "q44_pii_scrub" -> ((s, d) => {
      val salted = docsFanned(s, d).withColumn("text", concat(col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com now"))).otherwise(lit("")),
        when(col("doc_id") % 4 === 0,
          concat(lit(" call 555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
            lit(" today"))).otherwise(lit(""))))
      val cols = TextAnalysis.piiColumns(col("text")).map { case (n, c) => c.as(n) }
      salted.select((col("doc_id") +: cols): _*).orderBy(col("doc_id"))
    }),

    // Gopher-style repetition quality signals: top-bigram share and
    // duplicate-trigram share, ppm-quantized in integer arithmetic.
    "q45_repetition" -> ((s, d) =>
      TermStats.repetitionStats(docsFanned(s, d), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // Deterministic train/val/test split (80/10/10 on the text#id hash).
    "q46_dataset_split" -> ((s, d) =>
      Curation.hashSplit(Tables.documents(s, d), "doc_id", "text")
        .select(col("doc_id"), col("bucket"), col("split"))
        .orderBy(col("doc_id"))),

    // Backward as-of join: each click ↔ the latest error by the same
    // user at-or-before it (union + running-last window — one shuffle,
    // no inequality-join pair fan-out). No-match sentinel: -1.
    "q47_asof_join" -> ((s, d) => {
      val ev = Tables.events(s, d)
      AsOfJoin.lastAtOrBefore(
        ev.filter(col("event_type") === "click")
          .select(col("event_id"), col("user_id"), col("ts")), "user_id", "ts",
        ev.filter(col("event_type") === "error"), "user_id", "ts",
        "event_id", Seq("event_id", "value"))
        .select(col("event_id"), col("user_id"),
          coalesce(col("asof_event_id"), lit(-1L)).as("asof_event_id"),
          coalesce(col("asof_value"), lit(-1.0d)).as("asof_value"))
        .orderBy(col("event_id"))
    }),

    // Inverted index with df-band scale guards: stop-terms (unbounded
    // posting lists) and hapaxes are cut BEFORE collect_list runs.
    "q49_inverted_index" -> ((s, d) =>
      TermStats.invertedIndex(docsFanned(s, d), "doc_id", "text", 2, 100)
        .orderBy(col("term"))),

    // C4-style boilerplate-block removal over the duplicate-salted demo
    // corpus: 5-token blocks occurring in > 2 distinct docs are cut,
    // docs re-assembled from surviving blocks in order.
    "q50_block_dedup" -> ((s, d) =>
      TextDedup.blockBoilerplate(demoCorpus(Tables.documents(s, d)), "doc_id", "text",
          blockTokens = 5, maxBlockDf = 2)
        .orderBy(col("doc_id"))),

    // Bigram-LM surprisal quality score (log-free, integer-quantized):
    // the corpus is the model; low mean probability = improbable text.
    "q51_bigram_lm" -> ((s, d) =>
      TermStats.bigramLmScore(docsFanned(s, d), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // Temperature-resampled (α = 1/2) language mixing weights + a
    // 1000-doc sampling budget allocation, ppm-quantized integers.
    "q52_mixture_weights" -> ((s, d) =>
      Curation.mixtureWeights(Tables.documents(s, d), "lang", 1000L)
        .orderBy(col("lang"))),

    // Binned range join: for every error event, count + sum the same
    // user's purchases inside the following 30 minutes — an equi-join
    // on (user, time-bin) with a residual range filter, never an
    // inequality-join nested loop.
    "q53_range_join" -> ((s, d) => {
      val ev = Tables.events(s, d)
      RangeJoin.countInWindow(
        ev.filter(col("event_type") === "error")
          .select(col("event_id"), col("user_id"), col("ts")),
        ev.filter(col("event_type") === "purchase"),
        "event_id", "user_id", "ts", "value", 1800L)
        .orderBy(col("event_id"))
    }),

    // KMV (bottom-64) distinct-trigram sketch per language, paired with
    // the exact distinct count from the SAME one-shuffle hashed-pairs
    // frame — estimate and ground truth, both integer-exact. (Trigrams,
    // not tokens: the synthetic vocabulary is 31 words, which never
    // saturates the sketch; the trigram space is in the thousands.)
    "q54_kmv_distinct" -> ((s, d) => {
      val docs = docsFanned(s, d)
        .select(col("lang"), TextFeatures.tokens(col("text")).as("__toks"))
        .filter(size(col("__toks")) >= 3)
      val hashed = docs
        .select(col("lang"), explode(
          TextFeatures.shingleHashes(TextFeatures.shingles(col("__toks"), 3))).as("__h"))
        .distinct()
        .localCheckpoint() // forked: exact count + the sketch window
      val exact = hashed.groupBy("lang").agg(count(lit(1)).as("n_distinct"))
      exact.join(Sketches.kmvFromHashed(hashed, "lang", "__h", 64), Seq("lang"))
        .orderBy(col("lang"))
    }),

    // Trailing 1-hour per-user event window (range frame, not rows):
    // the feature-engineering primitive for activity features. Counts
    // and DECIMAL-exact sums; frame is value-determined, so the result
    // is layout-independent.
    "q55_rolling_window" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("__secs"))
        .rangeBetween(-3600L, 0L)
      Tables.events(s, d)
        .withColumn("__secs", unix_timestamp(col("ts")))
        .select(col("event_id"), col("user_id"),
          count(lit(1)).over(w).as("n_1h"),
          sum(col("value").cast(graft.model.Schemas.money)).over(w)
            .cast("double").as("sum_1h"))
        .orderBy(col("event_id"))
    }),

    // Per-language discrete token-count quantiles (p50/p90/p99) by rank
    // arithmetic — integer-exact, no interpolation in the contract.
    "q56_quantile_profile" -> ((s, d) =>
      Profiler.discreteQuantiles(
          docsFanned(s, d).withColumn("__v",
            size(TextFeatures.tokens(col("text"))).cast("long")),
          "lang", col("__v"), Seq(50, 90, 99))
        .orderBy(col("lang"), col("pct"))),

    // Mergeable histogram-sketch quantiles: the SCALE path next to
    // q56's exact quantiles — state is |occupied bins| per group (a
    // constant chosen up front), counters merge under any partitioning
    // or stream trigger, and the answer brackets the true quantile
    // within one bin.
    "q69_histogram_quantiles" -> ((s, d) =>
      Profiler.histogramQuantiles(
          docsFanned(s, d).withColumn("__v",
            size(TextFeatures.tokens(col("text"))).cast("long")),
          "lang", col("__v"), Seq(50, 90, 99), 16L)
        .orderBy(col("lang"), col("pct"))),

    // Near-dup corpus MATERIALIZATION: the kept corpus after minhash
    // clustering at est ≥ 0.75 — one canonical (min-id) doc per
    // cluster survives; the corpus itself never shuffles (single
    // anti-join against the small non-canonical member set). Composed
    // from the memoized q22/q36 candidate chain here for bench parity;
    // the self-contained operator ([[TextDedup.dedupedCorpus]]) is the
    // same composition, pinned by TextDedupSpec.
    "q70_deduped_corpus" -> ((s, d) => {
      val drop = graft.ops.ConnectedComponents.labels(
          minhashPairs(s, d).filter(col("est_jaccard") >= 0.75)
            .select(col("id_a").as("a"), col("id_b").as("b")))
        .filter(col("node") =!= col("cluster_id"))
        .select(col("node").as("doc_id"))
      demoCorpus(Tables.documents(s, d)).join(drop, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // SCD2 validity intervals from the event stream: each row opens at
    // its ts and closes at the next row's (per user; open tail = null).
    "q57_scd2_intervals" -> ((s, d) =>
      graft.ops.Relational.scd2Intervals(
          Tables.events(s, d).select(col("event_id"), col("user_id"),
            col("event_type"), col("ts")),
          Seq("user_id"), col("ts"), col("event_id"))
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("valid_from"), col("valid_to"))
        .orderBy(col("event_id"))),

    // Embedding near-duplicate clusters: connected components over the
    // capped sign-LSH pair graph (q25's candidates) — the embedding
    // twin of q36's text clusters.
    "q58_embedding_clusters" -> ((s, d) => {
      val pairs = Similarity.nearDupPairs(embCorpus(s, d), "vec_id", "embedding", 0.99)
        .select(col("id_a").as("a"), col("id_b").as("b"))
      graft.ops.ConnectedComponents.labels(pairs)
        .select(col("node").as("vec_id"), col("cluster_id"))
        .orderBy(col("vec_id"))
    }),

    // Budget-driven mixture sampling: √-flattened per-language budgets
    // (q52's weights) pick how many docs, the hash-ordered head picks
    // which — the composed corpus-rebalancing step.
    "q59_mixture_sample" -> ((s, d) =>
      Curation.mixtureSample(Tables.documents(s, d), "lang", "doc_id",
          TextFeatures.charHash(col("text")), 200L)
        .orderBy(col("lang"), col("rnk"))),

    // Lloyd assignment from deterministic farthest-point (k-center)
    // seeds: min-id vector first, then argmin-of-max-cosine rounds —
    // the spread-seeking seeding, exposed end-to-end (the q39 twin pins
    // the first-k-seeds path). k=3 so the oracle can unroll the rounds.
    "q48_kmeans_fps" -> ((s, d) => {
      val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val seeds = Clustering.farthestPointSeeds(e, "vec_id", "embedding", 3)
      Clustering.lloydAssignFrom(e, "vec_id", "embedding", seeds, 1)
        .select(col("vec_id"), col("cid").cast("long").as("cid"), col("cosine"))
        .orderBy(col("vec_id"))
    }),

    // Sequence packing: documents laid end-to-end in doc_id order, cut
    // every 256 tokens — the doc→training-sequence assignment, via the
    // two-pass distributed prefix sum (no single-partition window).
    "q61_sequence_pack" -> ((s, d) =>
      Packing.packSequences(Tables.documents(s, d), "doc_id",
          size(TextFeatures.tokens(col("text"))).cast("long"), 256L)
        .orderBy(col("seq_id"), col("doc_id"))),

    // Count-min heavy hitters: 3×32 sketch (width forced small so the
    // min-over-rows actually fights collisions) vs exact counts for
    // tokens seen ≥ 20 times — est ≥ exact, never under.
    "q62_countmin_tokens" -> ((s, d) =>
      Sketches.countMinHeavyHitters(docsFanned(s, d), "text",
          depth = 3, width = 32, minCount = 20L)
        .orderBy(col("token"))),

    // Top-principal-direction scores: 2 integer-exact power-iteration
    // rounds over the embedding Gram matrix — the dominant-semantic-axis
    // signal for whitening / outlier surfacing. Driver state = dims
    // values per round, like the centroid loops.
    "q66_top_component" -> ((s, d) =>
      Spectral.topComponentScores(
          Tables.embeddings(s, d).select(col("vec_id"), col("embedding")),
          "vec_id", "embedding", 2)
        .orderBy(col("vec_id"))),

    // Incremental dedup: the truncated variants play a NEW daily batch
    // deduplicated against the EXISTING corpus through the band-bucket
    // join alone — the corpus is never self-paired (that quadratic work
    // is historical), which is the continuously-ingested-data path.
    "q65_incremental_dedup" -> ((s, d) => {
      val base = Tables.documents(s, d)
      TextDedup.minhashCandidatesAgainst(truncDocs(base), base, "doc_id", "text")
        .orderBy(col("id_new"), col("id_corpus"))
    }),

    // The COMPLETE incremental-dedup step: q65's truncated batch is
    // doubled (ids +10000, same texts), so the arrival carries its own
    // internal duplicates — the step must surface new-vs-corpus pairs
    // through the persisted band index AND new-vs-new pairs within the
    // batch, in one call (the grown index is pinned by StreamingSpec's
    // sequential ≡ combined equivalence).
    "q67_incremental_dedup_full" -> ((s, d) => {
      val base = Tables.documents(s, d)
      val trunc = truncDocs(base)
      val batch = trunc.unionByName(
        trunc.select((col("doc_id") + 10000).as("doc_id"), col("text")))
      val idx = TextDedup.corpusBandIndex(base, "doc_id", "text")
      TextDedup.incrementalDedupStep(batch, idx, "doc_id", "text")
        .pairs.orderBy(col("pair_src"), col("id_a"), col("id_b"))
    }),

    // Semantic decontamination: corpus embeddings vs the broadcast
    // eval-seed set (vec_id < 20 plays the held-out benchmark) — each
    // doc's closest seed + cosine + flag at 0.9. The embedding-space
    // complement of q43's n-gram overlap.
    "q64_semantic_decontaminate" -> ((s, d) => {
      val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      Contamination.semanticOverlap(
          e.filter(col("vec_id") >= 20), e.filter(col("vec_id") < 20),
          "vec_id", "embedding", 0.9)
        .orderBy(col("vec_id"))
    }),

    // Integer-exact PageRank (3 iterations) over the symmetrized
    // supplier↔part co-purchase graph — the link-centrality corpus
    // weighting signal. The two key spaces overlap numerically, so
    // nodes are parity-encoded LONGS (supplier 2k, part 2k+1): every
    // per-iteration shuffle keys on an 8-byte long instead of a
    // variable-length string — at 100 TB the node id is the single
    // hottest shuffle key in the operator.
    "q63_pagerank" -> ((s, d) => {
      val e = supplierPartEdges(s, d)
      val sym = e.unionByName(
        e.select(col("dst").as("src"), col("src").as("dst")))
      GraphRank.pageRank(sym, "src", "dst", 3).orderBy(col("node"))
    }),

    // Mass-conserving PageRank on the DIRECTED supplier→part graph:
    // every part is a dangling sink, so the redistribute-to-all option
    // carries real weight here — each iteration folds the dangling mass
    // back as a per-node `D div n` share inside the damped term. The
    // leak variant (q63) stays the default.
    "q68_pagerank_redistribute" -> ((s, d) =>
      GraphRank.pageRank(supplierPartEdges(s, d), "src", "dst", 3,
          redistributeDangling = true)
        .orderBy(col("node"))),

    // Snapshot CDC diff: last month's corpus vs this month's (every 7th
    // doc dropped, every 5th survivor revised, every 11th re-ingested
    // under a new id) → the insert/delete/update changelog. One
    // full-outer join on the key, output |changes| not |table|.
    "q86_snapshot_diff" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val news = docs.filter(col("doc_id") % 7 =!= 0)
        .withColumn("text", when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" rev2"))).otherwise(col("text")))
        .unionByName(docs.filter(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 30000).as("doc_id"), col("text")))
      Relational.snapshotDiff(docs, news, Seq("doc_id"), Seq("text"))
        .orderBy(col("doc_id"))
    }),

    // Edit-distance similarity join (fuzzy near-key matching): 30-char
    // doc prefixes plus one-deletion mutants, all pairs within 2 edits
    // via the lossless positional rare-q-gram prefix (q=4 keeps the
    // flat word vocabulary informative) + banded levenshtein confirm.
    "q87_edit_join" -> ((s, d) =>
      editJoinPairs(s, d).orderBy(col("id_a"), col("id_b"))),

    // HyperLogLog-family register table: per-event-type distinct-user
    // sketch state (64 byte-sized maxima per group, mergeable under any
    // order) — the fixed-size COUNT DISTINCT next to q54's KMV.
    "q88_hll_registers" -> ((s, d) =>
      Sketches.hllRegisters(Tables.events(s, d), "event_type",
          col("user_id").cast("string"), p = 6)
        .orderBy(col("event_type"), col("bucket"))),

    // Bloom-pruned semi join: pull every document whose text fingerprint
    // is on the (doc_id % 13) blocklist — the bitmap probe kills
    // non-matches inside the scan, only candidates shuffle, the real
    // join removes false positives. Result ≡ plain semi join.
    "q89_bloom_prune" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      BloomPrune.prunedSemiJoin(docs,
          docs.filter(col("doc_id") % 13 === 0), col("text"), col("text"))
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // Integer-exact HLL estimate off the q88 registers: harmonic-mean
    // formula with 2^-M weights as integers on the 2^30 scale, alpha as
    // the rational 709/1000 — bit-identical on any engine/merge order.
    "q91_hll_estimate" -> ((s, d) =>
      Sketches.hllEstimate(
          Sketches.hllRegisters(Tables.events(s, d), "event_type",
            col("user_id").cast("string"), p = 6),
          "event_type", p = 6)
        .orderBy(col("event_type"))),

    // One-pass ANALYZE-style column profile of the orders table:
    // non-null count, exact NDV, lexicographic min/max of the canonical
    // string form — one scan, one tiny-key aggregate.
    "q90_column_profile" -> ((s, d) =>
      Profiler.columnProfile(Tables.orders(s, d),
          Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))
        .orderBy(col("col_name"))),

    // Zipf rank-frequency profile: top-100 corpus terms, deterministic
    // (count DESC, token ASC) rank via TakeOrderedAndProject — the
    // crawl-health curve, never a full sort.
    "q92_zipf_profile" -> ((s, d) =>
      TermStats.zipfProfile(docsFanned(s, d), "text", topK = 100)
        .orderBy(col("rnk"))),

    // Corpus-level n-gram novelty: ppm of each doc's distinct trigrams
    // occurring nowhere else — the template-mass gate; hashes shuffle,
    // text never does.
    "q93_ngram_novelty" -> ((s, d) =>
      TermStats.ngramNovelty(docsFanned(s, d), "doc_id", "text", n = 3)
        .orderBy(col("doc_id"))),

    // Token-balanced contiguous shard assignment (8 shards) on the
    // shared two-pass prefix sum — reproducible "equal tokens per
    // output file" manifests, no single-partition window.
    "q94_shard_assign" -> ((s, d) =>
      Curation.assignShards(Tables.documents(s, d), "doc_id",
          size(TextFeatures.tokens(col("text"))).cast("long"), nShards = 8)
        .orderBy(col("doc_id"))),

    // Language-ID confusion matrix: labeled lang × predicted lang
    // counts — the eval surface over X8's classifier (one projection,
    // one tiny-key aggregate).
    "q95_langid_confusion" -> ((s, d) =>
      docsFanned(s, d)
        .select(col("lang"),
          TextAnalysis.langId(TextFeatures.tokens(col("text"))).as("pred_lang"))
        .groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("pred_lang"))),

    // Semi-structured extraction: JSON props field pulled inside the
    // scan projection (no UDF), then per-type stats — the
    // event-payload analytics path.
    "q96_json_extract" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(count(col("k")).as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .orderBy(col("event_type"))),

    // Degree-ordered triangle count on the supplier co-supply graph
    // (suppliers sharing a part) — wedges built only at each edge's
    // low-degree end, so hub nodes never fan out quadratically.
    "q97_triangles" -> ((s, d) => {
      // Co-supply edges via the one-shuffle collect_set pair expansion
      // (replaces the distinct + per-part self-join; ≤ 4 suppliers per
      // part bound the in-core expansion). triangleCount normalizes
      // (least/greatest + distinct) internally, so the pre-deduped pair
      // set is provably the same edge set.
      val edges = GraphRank.keyedValuePairs(
          Tables.lineitem(s, d)
            .select(col("l_partkey").as("p"), col("l_suppkey").as("s")),
          "p", "s")
        .select(col("a").as("src"), col("b").as("dst"))
      GraphRank.triangleCount(edges, "src", "dst")
    }),

    // Reciprocal-rank fusion of the BM25 lexical top-100 and the dense
    // cosine top-100 against query vector 0 — hybrid retrieval, every
    // fusion stage on O(lists·K) rows.
    "q98_rrf_fusion" -> ((s, d) => {
      val lex = TermStats.bm25Rank(docsFanned(s, d), "doc_id", "text",
          Seq("join", "vector", "stream"))
        .select(col("doc_id"), col("rnk"))
      val e = Tables.embeddings(s, d)
      val dense = Similarity.bruteForceTopK(e, e.filter(col("vec_id") === 0),
          "vec_id", "embedding", 100)
        .select(col("neighbor_id").as("doc_id"), col("rank").as("rnk"))
      TermStats.rrfFuse(Seq(lex, dense), "doc_id").orderBy(col("rnk"))
    }),

    // Integer CDF calibration of per-language token counts: each
    // distinct length's strictly-below share in ppm — the
    // score-normalization step, compacted below the window (q56's
    // skew discipline).
    "q99_cdf_calibration" -> ((s, d) =>
      Profiler.cdfPpm(docsFanned(s, d), "lang",
          size(TextFeatures.tokens(col("text"))).cast("long"))
        .orderBy(col("lang"), col("v"))),

    // Weighted label propagation (2 synchronous rounds) on the part
    // co-purchase graph — weight = distinct orders sharing the pair;
    // argmax per node is window-free (struct-min), shuffle ∝ edges.
    "q100_label_propagation" -> ((s, d) =>
      // (order, part) presence-distinct FIRST inside the shared
      // coPurchasePairs chain (weight == count_distinct(order) per pair).
      GraphRank.labelPropagation(coPurchasePairs(s, d), "a", "b", "w", rounds = 2)
        .orderBy(col("n"))),

    // 3 peel rounds toward the 80-core of the part co-purchase graph —
    // survivors with their final-round degree; the edge set only
    // shrinks, so every round is cheaper than the last.
    "q101_kcore" -> ((s, d) =>
      // The same co-purchase pair SET as the q100 chain (kCorePeel
      // dedups internally, so the raw-lineitem spelling and the
      // presence-distinct one peel identically — shared memoized chain).
      GraphRank.kCorePeel(coPurchasePairs(s, d), "a", "b", k = 80, rounds = 3)
        .orderBy(col("n"))),

    // signup → click (≤6h) → purchase (≤6h) first-touch funnel: each
    // stage a scan-pushed type filter + user-keyed join, no windows.
    "q102_funnel" -> ((s, d) =>
      Behavior.funnel(Tables.events(s, d), "user_id", "event_type", "ts",
        Seq("signup", "click", "purchase"), windowHours = 6)
        .orderBy(col("step"))),

    // Day-grain purchase retention triangle: cohort = first purchase
    // day, cells = distinct active users per (cohort, offset).
    "q103_cohort_retention" -> ((s, d) =>
      Behavior.cohortRetention(Tables.events(s, d), "user_id", "ts",
          "event_type", "purchase")
        .orderBy(col("cohort_day"), col("day_offset"))),

    // Integer-exact OLS slope (ppm) of daily event counts per type —
    // the volume-trend monitor; two map-side-combinable aggregates.
    "q104_trend_slope" -> ((s, d) =>
      Behavior.trendSlopePpm(Tables.events(s, d), "event_type",
          datediff(to_date(col("ts")), lit("1970-01-01")))
        .orderBy(col("event_type"))),

    // Asymmetric containment: the 60%-prefix truncations are (near-)
    // fully contained in their source docs even though their Jaccard
    // is ~0.6 — the quote/subset detector at the 80% ppm threshold.
    "q105_containment" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Contamination.containmentPairs(docs, truncDocs(docs), "doc_id",
          "text", shingleN = 3, minContainPpm = 800000L,
          maxShingleDf = StopShingleDf)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Entity resolution end-to-end: q87's edit-distance pair graph
    // collapsed to connected components — near-key variants cluster
    // under one canonical (min) entity id.
    "q106_entity_clusters" -> ((s, d) =>
      // q87's pair graph (shared memoized chain) collapsed to components.
      graft.ops.ConnectedComponents.labels(
          editJoinPairs(s, d).select(col("id_a").as("a"), col("id_b").as("b")))
        .select(col("node").as("doc_id"), col("cluster_id").as("entity_id"))
        .orderBy(col("doc_id"))),

    // Greedy max-cover selection of the 5 most trigram-diverse docs —
    // each round an anti-join + TakeOrdered argmax, ties to smaller id.
    "q107_max_cover" -> ((s, d) =>
      Curation.maxCoverSelect(Tables.documents(s, d), "doc_id", "text",
          rounds = 5, shingleN = 3)
        .orderBy(col("rnk"))),

    // Tukey fences on per-language token counts: division-free
    // tenths-scaled 1.5×IQR comparison over the q56-compacted frame.
    "q108_iqr_outliers" -> ((s, d) =>
      Profiler.iqrOutlierFences(docsFanned(s, d), "lang",
          size(TextFeatures.tokens(col("text"))).cast("long"))
        .orderBy(col("lang"))),

    // Markov transition matrix of the event stream: one user-keyed
    // shuffle into the lag window, then tiny state-pair aggregates.
    "q109_markov_transitions" -> ((s, d) =>
      Behavior.transitionMatrixPpm(Tables.events(s, d), "user_id",
          "event_type", "ts", "event_id")
        .orderBy(col("from_type"), col("to_type"))),

    // Random-walk-with-restart proximity to the %50 supplier seeds on
    // the directed supplier→part graph — q63's seeded twin.
    "q110_personalized_pagerank" -> ((s, d) => {
      val seeds = Tables.supplier(s, d)
        .filter(col("s_suppkey") % 50 === 0)
        .select((col("s_suppkey") * 2).as("seed"))
      GraphRank.personalizedPageRank(supplierPartEdges(s, d), "src", "dst",
          seeds, "seed", 3)
        .orderBy(col("node"))
    }),

    // Interval overlap join: signup vs purchase 2h activity windows
    // per user — binned equi-join candidates, positional pair dedup.
    "q111_interval_overlap" -> ((s, d) => {
      val ev = Tables.events(s, d)
      def iv(t: String) = ev.filter(col("event_type") === t)
        .select(col("event_id"), col("user_id"), col("ts").as("ts_start"),
          (col("ts") + expr("INTERVAL 2 HOURS")).as("ts_end"))
      RangeJoin.overlapJoin(iv("signup"), iv("purchase"), "event_id",
          "event_id", "user_id", "ts_start", "ts_end", binSec = 3600L)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Pivot long→wide — the inverse of the reference's signature
    // unpivot (q09): EXPLICIT value list, so the plan is one aggregate
    // with no driver-side distinct scan of the pivot column.
    "q112_pivot_attrs" -> ((s, d) =>
      Tables.part(s, d)
        .select(col("p_partkey"), col("p_size").cast("double").as("size"),
          col("p_retailprice").as("retailprice"))
        .unpivot(Array(col("p_partkey")), Array(col("size"), col("retailprice")),
          "attr", "val")
        .groupBy(col("p_partkey"))
        .pivot("attr", Seq("size", "retailprice"))
        .agg(max(col("val")))
        .orderBy(col("p_partkey"))),

    // ROLLUP subtotal grid over the q02 revenue join — the Expand-based
    // multi-grain aggregate; grouping_id disambiguates subtotal rows,
    // names coalesce to 'ALL' so no NULL ever reaches the compare.
    "q113_rollup_revenue" -> ((s, d) => {
      val li = Tables.lineitem(s, d); val o = Tables.orders(s, d)
      val c = Tables.customer(s, d); val n = Tables.nation(s, d)
      val r = Tables.region(s, d)
      val m = graft.model.Schemas.money
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(sum(col("l_extendedprice").cast(m) *
            (lit(1).cast(m) - col("l_discount").cast(m)))
          .cast("double").as("revenue"),
          grouping_id().as("gid"))
        .select(coalesce(col("r_name"), lit("ALL")).as("r_name"),
          coalesce(col("n_name"), lit("ALL")).as("n_name"),
          col("revenue"), col("gid"))
        .orderBy(col("gid"), col("r_name"), col("n_name"))
    }),

    // Positional phrase query — the inverted index's read path: token
    // (not substring) semantics, postings-bounded equi-join chain.
    "q114_phrase_match" -> ((s, d) =>
      TermStats.phraseMatch(docsFanned(s, d), "doc_id", "text",
          Seq("sort", "merge"))
        .orderBy(col("doc_id"))),

    // HITS hubs/authorities (2 rounds) on the supplier→part graph —
    // integer-exact with per-round max-renormalization.
    "q115_hits" -> ((s, d) =>
      GraphRank.hits(supplierPartEdges(s, d), "src", "dst", 2)
        .orderBy(col("node"))),

    // Exact all-pairs cosine (Bayardo WWW'07) on the duplicate-heavy
    // corpus — the non-probabilistic complement of q22/q23: clone pairs
    // score 10⁶-exact, truncations land by their real overlap.
    "q116_allpairs_cosine" -> ((s, d) =>
      TermStats.allPairsCosine(demoCorpus(Tables.documents(s, d)),
          "doc_id", "text", tauMilli = 800, maxDf = 100)
        .orderBy(col("doc_a"), col("doc_b"))),

    // Multi-source BFS on the symmetrized co-purchase graph: hop
    // distance from the q110 seed suppliers, capped at 3.
    "q117_hop_distance" -> ((s, d) => {
      val fwd = supplierPartEdges(s, d)
      val sym = fwd.unionByName(fwd.select(col("dst").as("src"), col("src").as("dst")))
      val seeds = Tables.supplier(s, d)
        .filter(col("s_suppkey") % 50 === 0)
        .select((col("s_suppkey") * 2).as("seed"))
      GraphRank.hopDistance(sym, "src", "dst", seeds, "seed", 3)
        .orderBy(col("node"))
    }),

    // Deterministic DeepWalk corpus: 2 hash-stepped walks of length 3
    // from every node of the symmetrized co-purchase graph.
    "q118_random_walks" -> ((s, d) => {
      val fwd = supplierPartEdges(s, d)
      val sym = fwd.unionByName(fwd.select(col("dst").as("src"), col("src").as("dst")))
      GraphRank.randomWalks(sym, "src", "dst", walksPerNode = 2, walkLen = 3)
        .orderBy(col("walk_id"), col("step"))
    }),

    // SemDeDup on the cloned embedding corpus: cluster first (q39's
    // exact k-means), pairwise cosine only within clusters; every
    // +10000 clone has a cosine-1.0 lower-id mate and is dropped.
    "q120_semantic_dedup" -> ((s, d) =>
      Similarity.semanticDedup(embCorpus(s, d), "vec_id", "embedding",
          k = 8, iters = 2, tauMilli = 950L)
        .orderBy(col("vec_id"))),

    // Sorted-neighborhood blocking on the duplicate-heavy corpus: the
    // 24-char text prefix as the sort key puts clones and truncations
    // adjacent; candidates = each doc's 5 nearest ranks.
    "q121_sorted_neighborhood" -> ((s, d) =>
      FuzzyJoin.sortedNeighborhoodPairs(demoCorpus(Tables.documents(s, d)),
          "doc_id", substring(col("text"), 1, 24), winSize = 5)
        .orderBy(col("id_a"), col("id_b"))),

    // One GNN propagation step on a deterministic 2-regular-ish graph
    // over the embedding corpus: per-node neighbor feature sums.
    "q123_neighbor_agg" -> ((s, d) => {
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val n = emb.count()
      val e = emb.select(col("vec_id").as("src"),
          pmod(col("vec_id") + 1, lit(n)).as("dst"))
        .unionByName(emb.select(col("vec_id").as("src"),
          pmod(col("vec_id") * 37 + 11, lit(n)).as("dst")))
        .filter(col("src") =!= col("dst"))
      GraphRank.neighborAggregate(e, "src", "dst", emb, "vec_id", "embedding")
        .orderBy(col("node"), col("pos"))
    }),

    // Dump-mixing dedup across three tagged sources: primary beats the
    // byte-identical mirror; truncations survive from their own source.
    "q124_provenance_dedup" -> ((s, d) => {
      val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
      TextDedup.provenanceDedup(Seq(
          ("primary", base),
          ("mirror", base.select((col("doc_id") + 10000).as("doc_id"), col("text"))),
          ("trunc", truncDocs(Tables.documents(s, d)))),
        "doc_id", "text")
        .orderBy(col("source"), col("doc_id"))
    }),

    // Per-dimension embedding moments at two quanta — the feature
    // normalization table, in row form.
    "q125_embedding_dim_stats" -> ((s, d) =>
      Profiler.embeddingDimStats(Tables.embeddings(s, d), "embedding")
        .orderBy(col("pos"))),

    // Winsorize event values into each type's exact [p5, p95] band.
    "q126_winsorize" -> ((s, d) =>
      Profiler.winsorize(Tables.events(s, d), "event_type", "event_id",
          col("value"), 5, 95)
        .orderBy(col("event_type"), col("event_id"))),

    // Modularity of the supplier/part bipartition on the co-purchase
    // graph — every edge crosses sides, so Q is negative (pairs with
    // q127's negative assortativity). Input is the shared distinct
    // supplier→part edge memo: modularityPpm normalizes (src≠dst filter
    // + distinct) internally, so the pre-distincted frame is provably
    // the same edge set as the raw lineitem projection, and the node
    // set (and so the labels) is unchanged by the dedup.
    "q130_modularity" -> ((s, d) => {
      val fwd = supplierPartEdges(s, d)
      val labels = fwd.select(col("src").as("node"))
        .unionByName(fwd.select(col("dst").as("node"))).distinct()
        .select(col("node"), pmod(col("node"), lit(2L)).as("side"))
      GraphRank.modularityPpm(fwd, "src", "dst", labels, "node", "side")
    }),

    // Per-node local clustering coefficient on the part co-purchase
    // graph (parts sharing an order) — triangle participation and
    // cc_ppm per node via the oriented-adjacency edge iterator. The
    // edge set comes from the shared co-purchase pair memo (a < b,
    // distinct): clusteringCoefficientPpm normalizes its input with
    // least/greatest + distinct anyway, so the memoized pair set is
    // provably the same undirected edge set as the per-order self-join
    // it replaced (weights are ignored by the operator).
    "q131_clustering_coeff" -> ((s, d) =>
      GraphRank.clusteringCoefficientPpm(
          coPurchasePairs(s, d).select(col("a").as("src"), col("b").as("dst")),
          "src", "dst")
        .orderBy(col("n"))),

    // Shuffle-key skew profile of the event stream's user_id: top-20
    // heavy hitters with corpus share and ratio-to-mean in exact ppm.
    "q132_key_skew" -> ((s, d) =>
      Profiler.keySkewProfile(Tables.events(s, d), col("user_id"), topK = 20)
        .orderBy(col("rnk"))),

    // Mean token-rank quality score: each doc scored by the average
    // global frequency rank of its tokens (distributed prefix-count
    // rank, no single-partition vocabulary window).
    "q133_token_rank" -> ((s, d) =>
      TermStats.tokenRankScore(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // Prefix-truncation dups: docs plus 40-char truncated re-fetches;
    // every strict-prefix text paired with its first extension via one
    // adjacent-pair check per distinct text.
    "q134_prefix_dups" -> ((s, d) => {
      val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val trunc = base.filter(col("doc_id") % 4 === 0)
        .select((col("doc_id") + 50000).as("doc_id"),
          substring(col("text"), 1, 40).as("text"))
      TextDedup.prefixDupPairs(base.unionByName(trunc), "doc_id", "text")
        .orderBy(col("prefix_id"), col("full_id"))
    }),

    // Functional-dependency audit source -> lang: every source whose
    // rows disagree on language, with the majority value and the
    // dissenting row count.
    "q135_fd_violations" -> ((s, d) =>
      Profiler.fdViolations(Tables.documents(s, d), col("source"), col("lang"))
        .orderBy(col("x"))),

    // Label-cohesion index over the embedding labels: mean pairwise
    // cosine per label without materializing pairs (and without sqrt),
    // 1e6 = perfectly aligned members.
    "q136_label_cohesion" -> ((s, d) =>
      Clustering.labelCohesionPpm(Tables.embeddings(s, d), "label",
          "embedding")
        .orderBy(col("label"))),

    // Corpus contract checks on docs plus metadata-rotted mutants
    // (every 5th doc re-truncated without refreshing n_chars, lang
    // upper-cased): one pass, violation counts per invariant.
    "q137_corpus_contract" -> ((s, d) => {
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
      val rot = base.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 60000).as("doc_id"),
          substring(col("text"), 1, 25).as("text"),
          upper(col("lang")).as("lang"), col("n_chars"))
      Profiler.contractChecks(base.unionByName(rot), Seq(
          "n_chars_matches" -> (col("n_chars") =!= length(col("text"))),
          "text_nonempty" -> (length(col("text")) === 0),
          "lang_known" -> !col("lang").isin("en", "de", "es", "fr", "zh")))
        .orderBy(col("check"))
    }),

    // Dedup calibration: precision/recall of the MinHash-LSH retrieval
    // set against exact trigram-Jaccard >= 0.5 truth on the same demo
    // corpus — the evaluation harness that justifies LSH band/row
    // parameters before they gate a real corpus.
    "q138_dedup_calibration" -> ((s, d) => {
      val cand = minhashPairsFor(s, d)
        .select(col("id_a"), col("id_b"), lit(1L).as("__c"))
      // truth = q24's exact-Jaccard chain, shared (one spelling).
      val truth = ngramTruthPairs(s, d)
        .select(col("id_a"), col("id_b"), lit(1L).as("__t"))
      cand.join(truth, Seq("id_a", "id_b"), "full")
        .agg(
          sum(when(col("__c").isNotNull && col("__t").isNotNull, 1L)
            .otherwise(0L)).as("tp"),
          sum(when(col("__c").isNotNull && col("__t").isNull, 1L)
            .otherwise(0L)).as("fp"),
          sum(when(col("__c").isNull && col("__t").isNotNull, 1L)
            .otherwise(0L)).as("fn"))
        .select(col("tp"), col("fp"), col("fn"),
          when(col("tp") + col("fp") > 0,
            expr("tp * 1000000 DIV (tp + fp)")).as("precision_ppm"),
          when(col("tp") + col("fn") > 0,
            expr("tp * 1000000 DIV (tp + fn)")).as("recall_ppm"))
    }),

    // Association rules on order baskets (items = partkey mod 50):
    // support / confidence / lift in exact ppm.
    "q129_frequent_pairs" -> ((s, d) =>
      Behavior.frequentPairsPpm(
          Tables.lineitem(s, d).select(col("l_orderkey"),
            pmod(col("l_partkey"), lit(50L)).as("item50")),
          "l_orderkey", "item50", minCount = 50L)
        .orderBy(col("item_a"), col("item_b"))),

    // Quantile-normalize per-language token counts onto the global
    // 100-point grid (bin width 16, matching q69).
    "q128_quantile_normalize" -> ((s, d) =>
      Profiler.quantileNormalize(
          docsFanned(s, d).withColumn("__v",
            size(TextFeatures.tokens(col("text"))).cast("long")),
          "lang", "doc_id", col("__v"), 16L)
        .orderBy(col("lang"), col("doc_id"))),

    // Degree assortativity of the co-purchase graph in exact ppm
    // (bipartite-ish → expect it negative). Reads the shared distinct
    // supplier→part edge memo: degreeAssortativityPpm's own src≠dst
    // filter + distinct make the pre-distincted frame equivalent to the
    // raw lineitem projection it replaced.
    "q127_assortativity" -> ((s, d) =>
      GraphRank.degreeAssortativityPpm(supplierPartEdges(s, d), "src", "dst")),

    // Reproducibility digest of lineitem in 8 shards: commutative
    // count/xor/sum/min/max over the polynomial row hash.
    "q122_dataset_digest" -> ((s, d) =>
      Profiler.datasetDigest(Tables.lineitem(s, d),
          pmod(col("l_orderkey"), lit(8L)),
          Seq(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
            col("l_linenumber")))
        .orderBy(col("shard"))),

    // Per-user event series regularized onto a 6-hour grid: latest
    // observation carried forward with a staleness age.
    "q119_resample_ffill" -> ((s, d) =>
      Behavior.resampleForwardFill(Tables.events(s, d),
          "user_id", "ts", "event_id", "value", stepSec = 21600L)
        .select(col("key").as("user_id"), col("bucket"), col("v"), col("stale"))
        .orderBy(col("user_id"), col("bucket"))),

    // Salted skew join (X15): the hot-key remedy proven OUTPUT-identical
    // to the plain equi-join — the oracle IS the plain join, so the
    // salt/replicate/drop plumbing cannot silently change semantics.
    "q202_salted_join" -> ((s, d) => {
      val facts = Tables.lineitem(s, d).select(
        col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_partkey").as("p_partkey"))
      val dims = Tables.part(s, d).select(col("p_partkey"), col("p_brand"))
      SkewJoin.saltedJoin(facts, dims, "p_partkey", salt = 8,
          saltSource = Seq(col("l_orderkey"), col("l_linenumber")))
        .select(col("l_orderkey"), col("l_linenumber"), col("p_partkey"),
          col("l_quantity"), col("p_brand"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("p_partkey"),
          col("l_quantity"), col("p_brand"))
    }),

    // Declarative quality audit (X18): FK orphans, null keys and PK
    // duplicate groups as one violation-count frame — the engine-side
    // spelling of the reference's PostgreSQL constraints.
    "q203_quality_audit" -> ((s, d) => {
      val li = Tables.lineitem(s, d); val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      Quality.audit(Seq(
          "fk_lineitem_orders" ->
            li.select(col("l_orderkey").as("k")).distinct()
              .join(o.select(col("o_orderkey").as("k")), Seq("k"), "left_anti"),
          "fk_orders_customer" ->
            o.select(col("o_custkey").as("k")).distinct()
              .join(c.select(col("c_custkey").as("k")), Seq("k"), "left_anti"),
          "null_orderkey_lineitem" -> li.filter(col("l_orderkey").isNull),
          "pk_dup_lineitem" ->
            li.groupBy(col("l_orderkey"), col("l_partkey"), col("l_linenumber"))
              .agg(count(lit(1)).as("__n")).filter(col("__n") > 1)))
        .select(col("check").as("check_name"), col("violations"))
        .orderBy(col("check_name"))
    }),

    // Scrub composition: q190 locates the leaked spans, this CUTS them
    // and re-digests the remainder — the X163→X26 decontamination loop
    // closed end-to-end over the whole corpus.
    "q204_scrub_spans" -> ((s, d) =>
      Contamination.scrubSpans(docsFanned(s, d),
          Tables.documents(s, d).filter(col("doc_id") % 10 === 0),
          "doc_id", "text", n = 5)
        .orderBy(col("doc_id"))),

    // Real container parse end-to-end: synthetic MP4s (even ids) and
    // AVIs (odd ids) — dims/frames/duration pure functions of doc_id —
    // encoded AND parsed by the dependency-free box/chunk readers; the
    // oracle recomputes the parsed metadata arithmetically, so any
    // container-layer breakage (wrong header field, wrong fixed-point
    // shift, bad sample table) hash-mismatches.
    "q205_video_meta" -> ((s, d) =>
      VideoContainers.videoMeta(
          VideoContainers.syntheticVideos(docsFanned(s, d), "doc_id"))
        .toDF().orderBy(col("doc_id"))),

    // Real container frame DEMUX: every 2nd frame per payload sliced
    // out of the container's own sample extents (AVI movi chunks, MP4
    // stsz/stco tables) and byte-folded; the oracle recomputes each
    // frame's deterministic bytes, so a single mis-sliced frame
    // boundary hash-mismatches.
    "q206_video_frames" -> ((s, d) =>
      Multimodal.frameSample(
          VideoContainers.syntheticVideos(docsFanned(s, d), "doc_id"), 2)
        .toDF().orderBy(col("doc_id"), col("frame_idx"))),

    // Z-order key: the Morton bit-interleave over two 8-bit dims —
    // pure codegen'd shift/mask projection, bit-exact against the
    // oracle's arithmetic respelling.
    "q207_zorder_key" -> ((s, d) =>
      ZOrder.withZ(
          Tables.documents(s, d).select(col("doc_id"),
            (col("doc_id") % 256).as("a"),
            (octet_length(col("text")) % 256).as("b")),
          Seq("a", "b"), 8)
        .select(col("doc_id"), col("z"))
        .orderBy(col("doc_id"))),

    // Z-order pruning stats: rows bucketed by the top 4 z bits, per-
    // bucket min/max/count of each dimension — the footer stats a
    // min/max-pruned scan consults; tight spans on BOTH dims are the
    // layout's whole point (ZOrderSpec pins the locality property; this
    // pins the stats frame itself against the oracle).
    "q208_zorder_stats" -> ((s, d) =>
      ZOrder.pruningStats(
          Tables.documents(s, d).select(col("doc_id"),
            (col("doc_id") % 256).as("a"),
            (octet_length(col("text")) % 256).as("b")),
          Seq("a", "b"), 8, log2Buckets = 4)
        .orderBy(col("bucket"))),

    // X178 quantile sketch, the cells: log-linear histogram of byte
    // lengths per doc_id%8 group — binary exponent + 4 mantissa bits,
    // every cell key an exact integer spelling the oracle reproduces
    // with length(bin(v)).
    "q209_qsketch_cells" -> ((s, d) =>
      Sketches.qsketchCells(
          Tables.documents(s, d).select((col("doc_id") % 8).as("grp"),
            octet_length(col("text")).cast("long").as("v")),
          "grp", col("v"), subBits = 4)
        .orderBy(col("grp"), col("e"), col("m"))),

    // X178 quantile sketch, the read side: p50/p90/p99 off the cells —
    // first cell whose cumulative count reaches ceil(pct·n/100), lower
    // bound + width in pure shifts; windows read the ≤1k-cell sketch,
    // never the corpus.
    "q210_qsketch_quantiles" -> ((s, d) =>
      Sketches.qsketchQuantiles(
          Sketches.qsketchCells(
            Tables.documents(s, d).select((col("doc_id") % 8).as("grp"),
              octet_length(col("text")).cast("long").as("v")),
            "grp", col("v"), subBits = 4),
          "grp", Seq(50, 90, 99), subBits = 4)
        .orderBy(col("grp"), col("pct"))),

    // X178 weighted read: byte-length quantiles weighted by characters
    // contributed — one huge doc outweighs a thousand stubs, the
    // curation view; cnt = Σ n_chars per cell, read side unchanged.
    "q211_qsketch_weighted" -> ((s, d) =>
      Sketches.qsketchQuantiles(
          Sketches.qsketchCellsWeighted(
            Tables.documents(s, d).select((col("doc_id") % 4).as("grp"),
              octet_length(col("text")).cast("long").as("v"),
              col("n_chars").cast("long").as("w")),
            "grp", col("v"), col("w"), subBits = 4),
          "grp", Seq(50, 90, 99), subBits = 4)
        .orderBy(col("grp"), col("pct"))),

    // ExactSubstr self-dedup (Lee et al. 2022) over the clone+trunc
    // corpus: every 5-token window occurring more than once keeps only
    // its first (doc_id, pos) occurrence — clones scrub to nothing,
    // truncations lose their copied prefix, originals survive whole.
    "q212_self_scrub" -> ((s, d) =>
      TextDedup.selfScrub(demoCorpus(docsFanned(s, d)), "doc_id", "text", 5)
        .orderBy(col("doc_id"))),

    // ROUGE-2 of each document's 60% prefix against the full text —
    // the snapshot-QA shape: precision ~1 (clip catches repeats),
    // recall ~ the retained share.
    "q213_rouge" -> ((s, d) => {
      val t = Tables.documents(s, d)
        .select(col("doc_id"), col("text"),
          TextFeatures.tokens(col("text")).as("__toks"))
        .select(col("doc_id"),
          concat_ws(" ", slice(col("__toks"), lit(1),
            floor(size(col("__toks")) * 3 / 5).cast("int"))).as("cand"),
          col("text").as("ref"))
      EvalMetrics.rougeN(t, "doc_id", "cand", "ref", 2)
        .orderBy(col("pair_id"))
    }),

    // Leave-one-out target encoding of (returnflag, linestatus) against
    // quantity, collapsed to the distinct (key, v, loo) combinations so
    // the per-row join-back is exercised but the output stays readable.
    "q214_target_encode" -> ((s, d) =>
      Curation.targetEncodeLoo(
          Tables.lineitem(s, d).select(col("l_returnflag"),
            col("l_linestatus"),
            (col("l_orderkey") * 8 + col("l_linenumber")).as("rid"),
            col("l_quantity")),
          Seq("l_returnflag", "l_linestatus"), "rid", col("l_quantity"))
        .groupBy(col("l_returnflag"), col("l_linestatus"), col("v"),
          col("n"), col("loo_milli"))
        .agg(count(lit(1)).as("n_rows"))
        .orderBy(col("l_returnflag"), col("l_linestatus"), col("v"))),

    // Perceptual dHash through the REAL codec path (PNG encode →
    // ImageIO decode → integer nearest-neighbor resize → BT.601 luma
    // gradient); the oracle recomputes the 64 bits arithmetically from
    // the synthetic gradient, so any codec/resize/luma defect flips
    // bits and hash-mismatches.
    "q215_image_dhash" -> ((s, d) =>
      Multimodal.imageDHash(
          Multimodal.syntheticImages(Tables.documents(s, d), "doc_id"))
        .toDF().orderBy(col("doc_id"))),

    // The dedup action table off the perceptual hash: one row per
    // (dims, dhash) content class with the kept representative.
    "q216_dhash_dups" -> ((s, d) =>
      Multimodal.imageDHash(
          Multimodal.syntheticImages(Tables.documents(s, d), "doc_id"))
        .toDF().groupBy(col("width"), col("height"), col("dhash"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_doc"))
        .orderBy(col("width"), col("height"), col("dhash"))),

    // Audio clip/silence QA through the REAL javax.sound decode; the
    // oracle recomputes every sample magnitude arithmetically.
    "q217_audio_quality" -> ((s, d) =>
      Multimodal.audioQuality(
          Multimodal.syntheticAudio(Tables.documents(s, d), "doc_id"))
        .toDF().orderBy(col("doc_id"))),

    // Energy-shape fingerprint of the same decoded PCM — the audio
    // dedup key (bit w: window w+1 louder than window w).
    "q218_audio_ehash" -> ((s, d) =>
      Multimodal.audioEnergyHash(
          Multimodal.syntheticAudio(Tables.documents(s, d), "doc_id"))
        .toDF().orderBy(col("doc_id"))),

    // Luma-stat image QA over the real decoded raster (no resize).
    "q219_image_quality" -> ((s, d) =>
      Multimodal.imageQuality(
          Multimodal.syntheticImages(Tables.documents(s, d), "doc_id"))
        .toDF().orderBy(col("doc_id"))),

    // The X186 incremental composition as two id-ordered arrivals
    // (originals, then clones+truncs): the union of the two steps'
    // scrubbed outputs must equal one-shot q212 — the oracle IS
    // q212's SQL, so any drift between the incremental and batch
    // spellings hash-mismatches.
    "q220_self_scrub_inc" -> ((s, d) => {
      val corpus = demoCorpus(docsFanned(s, d))
      val step1 = TextDedup.selfScrubStep(
        corpus.filter(col("doc_id") < 10000),
        TextDedup.emptyScrubIndex(s), "doc_id", "text", 5)
      val step2 = TextDedup.selfScrubStep(
        corpus.filter(col("doc_id") >= 10000),
        step1.index, "doc_id", "text", 5)
      step1.scrubbed.unionByName(step2.scrubbed).orderBy(col("doc_id"))
    }),

    // l-diversity audit at l=10 over the (nation, segment) QI with the
    // account balance as the sensitive attribute — the homogeneity-
    // attack number k-anonymity (q172) cannot see.
    "q221_l_diversity" -> ((s, d) =>
      Profiler.lDiversityAudit(Tables.customer(s, d),
        Seq("c_nationkey", "c_mktsegment"), "c_acctbal", 10L)),

    // Char-trigram concentration: per-doc Simpson index + distinct
    // ratio in exact ppm — templated text reads high, encoded noise
    // reads low with a wide gram set.
    "q222_chargram_conc" -> ((s, d) =>
      TermStats.charGramConcentration(
          Tables.documents(s, d), "doc_id", "text", 3)
        .orderBy(col("doc_id"))),

    // Graded Kendall τ-b (B=100): ordinal concordance of event value
    // with time per event type — C−D exact on the grade grid via
    // bounded quadrant sweeps, never a pair join.
    "q223_kendall_grade" -> ((s, d) =>
      Behavior.kendallGradePpm(Tables.events(s, d), "event_type",
          expr("floor(unix_timestamp(ts))"), expr("floor(value * 1000)"))
        .orderBy(col("event_type"))),

    // t-closeness audit at t=0.25 over the (nation, segment) QI with
    // cent-quantized account balance as the sensitive attribute —
    // the skewness attack l-diversity (q221) cannot see: exact ordinal
    // EMD class-vs-global on equal-width bins.
    "q224_t_closeness" -> ((s, d) =>
      Profiler.tClosenessAudit(Tables.customer(s, d),
        Seq("c_nationkey", "c_mktsegment"),
        expr("floor(c_acctbal * 100)"), 50000L, 250000L)),

    // Matryoshka width sweep: recall@3 of truncated-cosine top-k at
    // widths 8/16/32/64 vs the full 64-dim truth — the storage-vs-
    // recall pricing table, one corpus×queries pass for all widths.
    "q225_matryoshka" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.matryoshkaRecall(e, e.filter(col("vec_id") < 20),
          "vec_id", "embedding", 3, Seq(8, 16, 32, 64))
        .orderBy(col("dims"))
    }),

    // The X193 incremental composition as two id-ordered arrivals
    // (originals, then the +10000 clones): the union of the two steps'
    // pair sets must equal the UNCAPPED one-shot enumeration (the step
    // is cap-free; the cap belongs at index compaction, not the probe).
    "q227_neardup_inc" -> ((s, d) => {
      val corpus = embCorpus(s, d)
      val s1 = Similarity.nearDupStep(corpus.filter(col("vec_id") < 10000),
        Similarity.emptyNearDupIndex(s), "vec_id", "embedding", 0.99)
      val s2 = Similarity.nearDupStep(corpus.filter(col("vec_id") >= 10000),
        s1.index, "vec_id", "embedding", 0.99)
      s1.pairs.unionByName(s2.pairs).orderBy(col("id_a"), col("id_b"))
    }),

    // Pairwise two-sample KS over doc-length distributions by source —
    // the binning-free drift test next to q76's histogram L1; exact
    // integer max-CDF-gap on the compacted value domain.
    "q231_ks_drift" -> ((s, d) =>
      Profiler.ksStatPpm(Tables.documents(s, d), "source", col("n_chars"))
        .orderBy(col("g_a"), col("g_b"))),

    // q231's bounded-state tier: the same pairwise KS read off X178
    // qsketch cells — per-pair windows walk ≤ ~1k cells, never the
    // pooled distinct values (the 100-TB continuous-column path).
    "q232_ks_cells" -> ((s, d) =>
      Profiler.ksStatFromCells(
          Sketches.qsketchCells(
            Tables.documents(s, d).select(col("source").as("grp"),
              col("n_chars").cast("long").as("v")),
            "grp", col("v"), subBits = 4),
          "grp")
        .orderBy(col("g_a"), col("g_b"))),

    // q76's bounded-state tier: pairwise L1 on the qsketch cell shares
    // — log-linear cells hold relative width <= 1/16 across the whole
    // range where fixed-width bins must pick a scale.
    "q233_drift_cells" -> ((s, d) =>
      Profiler.driftFromCells(
          Sketches.qsketchCells(
            Tables.documents(s, d).select(col("source").as("grp"),
              col("n_chars").cast("long").as("v")),
            "grp", col("v"), subBits = 4),
          "grp")
        .orderBy(col("g_a"), col("g_b"))),

    // X202 CUSUM: daily event counts per type against ref level 66 —
    // the sequential "when did the level shift?" alarm next to the
    // two-snapshot drift tests; exact prefix-identity integers.
    "q237_cusum" -> ((s, d) =>
      Behavior.cusumSeries(
          Tables.events(s, d).groupBy(col("event_type"),
            datediff(to_date(col("ts")), lit("1970-01-01")).cast("long").as("day"))
            .agg(count(lit(1)).as("n")),
          "event_type", "day", col("n"), ref = 66L, threshold = 25L)
        .orderBy(col("event_type"), col("t"))),

    // X203 rank AUC on the same qsketch cells as q232: directional
    // effect size P(len_a > len_b) in ppm, ties half-weighted.
    "q238_auc_cells" -> ((s, d) =>
      Profiler.aucFromCells(
          Sketches.qsketchCells(
            Tables.documents(s, d).select(col("source").as("grp"),
              col("n_chars").cast("long").as("v")),
            "grp", col("v"), subBits = 4),
          "grp")
        .orderBy(col("g_a"), col("g_b"))),

    // X204 two-sample chi-square on the same cells: the homogeneity
    // statistic (x1000) + dof, completing the drift panel.
    "q239_chi2_cells" -> ((s, d) =>
      Profiler.chi2FromCells(
          Sketches.qsketchCells(
            Tables.documents(s, d).select(col("source").as("grp"),
              col("n_chars").cast("long").as("v")),
            "grp", col("v"), subBits = 4),
          "grp")
        .orderBy(col("g_a"), col("g_b"))),

    // X205 retrieval eval: per event_type, the type's top-20
    // users-by-activity as the ranking, high-value events (value>=80)
    // as the ground truth — MRR / P@10 / R@10 / MAP@10 in exact ppm.
    "q240_retrieval_eval" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, d)
      val res = ev.groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("c"))
        .withColumn("r", row_number().over(Window.partitionBy("event_type")
          .orderBy(col("c").desc, col("user_id").asc)))
        .filter(col("r") <= 20)
      val rel = ev.filter(col("value") >= 80)
        .select(col("event_type"), col("user_id"))
      EvalMetrics.retrievalMetrics(res, rel, "event_type", "user_id", "r",
          k = 10)
        .orderBy(col("event_type"))
    }),

    // X208 NDCG@10 on the q240 ranking with graded relevance (capped
    // count of high-value events) — the pinned-discount-table integers.
    "q243_ndcg" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, d)
      val res = ev.groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("c"))
        .withColumn("r", row_number().over(Window.partitionBy("event_type")
          .orderBy(col("c").desc, col("user_id").asc)))
        .filter(col("r") <= 20)
      val gr = ev.filter(col("value") >= 80)
        .groupBy(col("event_type"), col("user_id"))
        .agg(least(count(lit(1)), lit(4L)).as("g"))
      EvalMetrics.ndcgAtK(res, gr, "event_type", "user_id", "r", "g", k = 10)
        .orderBy(col("event_type"))
    }),

    // X206 Theil-Sen robust trend on the q237 daily series: median
    // pairwise slope + intercept, outlier-proof where OLS is not.
    "q241_theil_sen" -> ((s, d) =>
      Behavior.theilSenSlope(
          Tables.events(s, d).groupBy(col("event_type"),
            datediff(to_date(col("ts")), lit("1970-01-01")).cast("long").as("day"))
            .agg(count(lit(1)).as("n")),
          "event_type", "day", col("n"))
        .orderBy(col("event_type"))),

    // X207 hash-Poisson bootstrap: deterministic 50-replicate error
    // bars on each source's mean doc length, floor-ppm integers.
    "q242_bootstrap_ci" -> ((s, d) =>
      Profiler.bootstrapCi(Tables.documents(s, d), "source",
          col("doc_id"), col("n_chars"), reps = 50)
        .orderBy(col("source"))),

    // X209 priority sampling: top-8 docs per source by hash-priority
    // w·M div (h+1), survivors carry the max(w, τ) unbiased estimate.
    "q244_priority_sample" -> ((s, d) =>
      Curation.prioritySample(Tables.documents(s, d), "source",
          col("doc_id"), col("n_chars"), k = 8)
        .orderBy(col("source"), col("id"))),

    // X211 group ablation: leave-one-source-out corpus mean deltas on
    // doc length — "dropping source S moves the corpus mean by δ".
    "q245_source_ablation" -> ((s, d) =>
      Curation.ablateGroups(Tables.documents(s, d), "source",
          col("n_chars"))
        .orderBy(col("source"))),

    // X210 entropy secret scan over an md5-augmented corpus (the base
    // fixture has no ≥16-char tokens): each doc gains one hex blob
    // (flagged, H ≈ 3.7-4.0 bits) and every 5th doc one 'aaaa…' run
    // (candidate, never flagged) — both sides derive the augmentation
    // from the same parquet.
    "q246_entropy_scan" -> ((s, d) =>
      Profiler.entropyScan(
          Tables.documents(s, d).select(col("doc_id"),
            concat(col("text"), lit(" "), md5(col("text")),
              when(col("doc_id") % 5 === 0, lit(" aaaaaaaaaaaaaaaaaaaa"))
                .otherwise(lit(""))).as("text")),
          "doc_id", "text")
        .orderBy(col("doc_id"))),

    // X212 Wasserstein-1 on the same qsketch cells as q232: the panel
    // member with units — how far the length mass travelled, in chars
    // x1000 (area between the cell-censored CDFs).
    "q247_w1_cells" -> ((s, d) =>
      Profiler.wassersteinFromCells(
          Sketches.qsketchCells(
            Tables.documents(s, d).select(col("source").as("grp"),
              col("n_chars").cast("long").as("v")),
            "grp", col("v"), subBits = 4),
          "grp")
        .orderBy(col("g_a"), col("g_b"))),

    // X213 Pareto skyline of parts: maximize size AND retail price —
    // the undominated quality/cost frontier; floor(price*100) is the
    // IEEE-pinned integerization (DuckDB CAST rounds, so floor first).
    "q248_skyline" -> ((s, d) =>
      Curation.skyline2D(Tables.part(s, d), "p_partkey",
          col("p_size"), floor(col("p_retailprice") * 100).cast("long"))
        .orderBy(col("p_partkey"))),

    // X214 grid-density clustering of the embedding map's first two
    // dims: 1/32-wide cells, dense at >=4 points, 8-adjacent dense
    // cells merge (7 modes + noise at this grain); sparse-cell points
    // read noise (-1).
    "q249_grid_density" -> ((s, d) =>
      Clustering.gridDensityClusters(Tables.embeddings(s, d), "vec_id",
          element_at(col("embedding"), 1), element_at(col("embedding"), 2),
          invCell = 32, minPts = 4L)
        .orderBy(col("vec_id"))),

    // X215 HyperBall on the distinct part co-purchase graph (q100's
    // edge construction): per part, the HLL-estimated 0/1/2-hop ball
    // size — the "how central is this item" probe without |V| BFS runs.
    "q250_hyperball" -> ((s, d) =>
      coPurchaseBalls(s, d).orderBy(col("node"), col("r"))),

    // X216 harmonic centrality off the q250 sketches: Σ shell_r / r in
    // ppm — per-node reach-weighted centrality with the 2-hop horizon.
    "q251_harmonic_centrality" -> ((s, d) =>
      // Reads q250's memoized sketch chain; the shell fold is all that
      // is specific to this query.
      GraphRank.harmonicFromBalls(coPurchaseBalls(s, d), radii = 2)
        .orderBy(col("node"))),

    // X217 phonetic blocking: every distinct leading word of part
    // names keyed by classic Soundex — bucket sizes and the candidate
    // pair count an entity-resolution pass would enumerate per code.
    "q252_soundex_blocking" -> ((s, d) =>
      Tables.part(s, d)
        .select(lower(element_at(split(col("p_name"), " "), 1)).as("term"))
        .distinct()
        .withColumn("code",
          graft.functions.TextAnalysis.soundexCode(col("term")))
        .groupBy(col("code"))
        .agg(count(lit(1)).as("n_terms"),
          min(col("term")).as("first_term"),
          max(col("term")).as("last_term"),
          expr("count(1) * (count(1) - 1) div 2").as("n_candidate_pairs"))
        .orderBy(col("code"))),

    // X218 exact heavy hitters by corpus share: a Misra–Gries
    // bounded-state candidate pass then an exact broadcast recount —
    // the shaped value plants 5 hot keys (~10% of rows) over the
    // |parts| light tail; the share-relative threshold (0.5%) keeps
    // the MG no-false-negative guarantee valid at every sf.
    "q253_heavy_hitters" -> ((s, d) =>
      Sketches.heavyHittersByShare(
        Tables.lineitem(s, d).select(
          when(col("l_orderkey") % 100 < 10,
            concat(lit("hot_"), (col("l_orderkey") % 5).cast("string")))
            .otherwise(concat(lit("part_"), col("l_partkey").cast("string")))
            .as("item")),
        col("item"), k = 256, sharePpm = 5000L)
        .orderBy(col("item"))),

    // X221 weighted exact heavy hitters: same shaped domain but items
    // weigh by quantity — "which domains hold >= 0.5% of total weight"
    // through the weighted MG candidate pass + exact weighted recount.
    "q256_heavy_weight" -> ((s, d) =>
      Sketches.heavyHittersByWeightShare(
        Tables.lineitem(s, d).select(
          when(col("l_orderkey") % 100 < 10,
            concat(lit("hot_"), (col("l_orderkey") % 5).cast("string")))
            .otherwise(concat(lit("part_"), col("l_partkey").cast("string")))
            .as("item"),
          col("l_quantity").cast("long").as("wt")),
        col("item"), col("wt"), k = 256, sharePpm = 5000L)
        .orderBy(col("item"))),

    // X219 blocked Jaro–Winkler matching over the distinct part-name
    // vocabulary: block on the first token (Winkler's prefix boost
    // concentrates high scores on shared prefixes), verify with the
    // integer-exact ppm comparator, keep pairs >= 0.888 — a threshold
    // inside a measured >=10000-ppm gap of the vocabulary's exact
    // score distribution, so the oracle's float spelling cannot
    // straddle it. Output keeps the integer-exact columns only.
    "q254_jw_blocking" -> ((s, d) =>
      FuzzyJoin.jaroWinklerPairs(
        Tables.part(s, d).select(col("p_name").as("name"),
          element_at(split(col("p_name"), " "), 1).as("blk")),
        "name", "blk", minPpm = 888000L)
        .select(col("name_a"), col("name_b"), col("lev"))
        .orderBy(col("name_a"), col("name_b"))),

    // X220 encoding QA on a deterministically corrupted twin of the
    // corpus: every 5th doc gains a UTF-8-read-as-latin1 mojibake
    // tail, every 7th a replacement char + C1 control — per-source
    // counts of each corruption witness plus the corpus non-ASCII ppm.
    "q255_encoding_qa" -> ((s, d) => {
      val docs = Tables.documents(s, d).withColumn("text",
        when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" " + EncodingQaFixture.Mojibake)))
          .when(col("doc_id") % 7 === 0,
            concat(col("text"), lit(" " + EncodingQaFixture.Corrupt)))
          .otherwise(col("text")))
      val cols = TextAnalysis.encodingQaColumns(col("text"))
      docs.select((col("source") +: cols.map { case (n, c) => c.as(n) }): _*)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("docs_scanned"),
          sum(when(col("n_replacement") + col("n_c1_controls") +
            col("n_mojibake_digraphs") > 0, 1L).otherwise(0L)).as("n_flagged"),
          sum(col("n_replacement")).as("n_replacement"),
          sum(col("n_c1_controls")).as("n_c1_controls"),
          sum(col("n_mojibake_digraphs")).as("n_mojibake_digraphs"),
          expr("sum(n_non_ascii) * 1000000 DIV sum(n_chars)")
            .as("non_ascii_ppm"))
        .orderBy(col("source"))
    }),

    // O1-O5 composition under the hard gate: a REAL PipelineETL.run
    // over a staging fixture derived deterministically from `part`
    // (two price sheets with first-sheet-wins overlap + a maintenance
    // log whose latest event deactivates every 10th code), then the
    // resulting insumos warehouse table — orchestration order, A4
    // dedup, S10 upsert, and the J4/W1 status sync all in one row the
    // DuckDB twin reproduces from the same parquet.
    "q236_pipeline_e2e" -> ((s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("graft_e2e_staging")
      val wh = java.nio.file.Files.createTempDirectory("graft_e2e_wh").toString
      val parts = Tables.part(s, d).select(col("p_partkey"), col("p_name"))
        .orderBy(col("p_partkey"))
        .collect().map(r => (r.getLong(0), r.getString(1)))
      def write(name: String, lines: Iterator[String]): Unit = {
        val w = java.nio.file.Files.newBufferedWriter(dir.resolve(name),
          java.nio.charset.StandardCharsets.UTF_8)
        try lines.foreach { l => w.write(l); w.write("\n") } finally w.close()
      }
      write("ISD_202501.csv", Iterator(
          "SINAPI - Preços de Insumos;;;;",
          "Código do Insumo;Descrição do Insumo;Unidade;SP;RJ") ++
        parts.iterator.filter(_._1 % 2 == 0)
          .map { case (k, n) => s"$k;$n;UN;1,50;2,25" })
      write("ICD_202501.csv", Iterator(
          "SINAPI - Preços de Insumos (desonerado);;;;",
          "Código do Insumo;Descrição do Insumo;Unidade;SP;RJ") ++
        parts.iterator.filter(_._1 % 3 == 0)
          .map { case (k, n) => s"$k;$n DESON;UN;1,10;2,10" })
      write("Manutencoes_202501.csv", Iterator(
          "SINAPI - Relatório de Manutenções;;;;",
          "Referência;Tipo;Código;Descrição;Manutenção") ++
        parts.iterator.filter(_._1 % 2 == 0)
          .map { case (k, n) => s"01/2025;INSUMO;$k;$n;ALTERAÇÃO DE PREÇO" } ++
        parts.iterator.filter(_._1 % 10 == 0)
          .map { case (k, n) => s"02/2025;INSUMO;$k;$n;DESATIVAÇÃO" })
      val store = new graft.store.TableStore(s, wh)
      val report = new graft.pipeline.PipelineETL(s, store,
        graft.config.EngineConfig.load(env = Map.empty)).run(dir.toString, 2025, 1)
      require(report.status == "SUCESSO" && report.sheetErrors.isEmpty,
        s"pipeline run failed: $report")
      store.read("insumos")
        .select(col("codigo").cast("long").as("codigo"), col("descricao"),
          col("unidade"), col("status"))
        .orderBy(col("codigo"))
    }),

    // X201 index compaction under the hard gate: TTL (id >= 2000) +
    // keep-50-earliest per (band, bucket) over the X193 banded
    // embedding index — the maintenance pass that bounds a
    // continuously-grown LSH index.
    "q235_compact_index" -> ((s, d) =>
      TextDedup.compactBandedIndex(
          Similarity.nearDupIndex(Tables.embeddings(s, d), "vec_id", "embedding"),
          maxBucket = 5, minId = 100)
        .select(col("band").cast("long").as("band"), col("bucket"), col("id"))
        .orderBy(col("band"), col("bucket"), col("id"))),

    // WHERE the distribution moved: pairwise p50/p90/p99 shifts read
    // off the same cells (true quantile inside the reported cell).
    "q234_qshift_cells" -> ((s, d) =>
      Profiler.quantileShiftFromCells(
          Sketches.qsketchCells(
            Tables.documents(s, d).select(col("source").as("grp"),
              col("n_chars").cast("long").as("v")),
            "grp", col("v"), subBits = 4),
          "grp", Seq(50, 90, 99), subBits = 4)
        .orderBy(col("g_a"), col("g_b"), col("pct"))),

    // HLL set-overlap matrix: user-base overlap between event types
    // from the sketches alone — union by per-bucket register max,
    // intersection/Jaccard by inclusion-exclusion.
    "q230_hll_overlap" -> ((s, d) =>
      Sketches.hllOverlap(
          Sketches.hllRegisters(Tables.events(s, d), "event_type",
            col("user_id").cast("string"), p = 6),
          "event_type", p = 6)
        .orderBy(col("g_a"), col("g_b"))),

    // Measured Bloom FPR: 1500 customer keys in a 4 Kibit bitmap (k=2),
    // probed with order keys known absent by hash — the load factor and
    // false-positive rate the theoretical curve only approximates.
    "q229_bloom_fpr" -> ((s, d) =>
      graft.ops.BloomPrune.fprReport(Tables.customer(s, d), Tables.orders(s, d),
        col("c_custkey").cast("string"), col("o_orderkey").cast("string"),
        4096, 2)),

    // Reshard-stability: what growing 7→8 shards costs under HRW
    // (expected ~1/8 of rows move; hash-mod would move ~6/7) — one
    // fold, zero shuffle.
    "q228_reshard_stability" -> ((s, d) =>
      Curation.reshardStability(Tables.orders(s, d), col("o_orderkey"), 7, 8)),

    // Krippendorff's alpha over each user's first 8 event types (the
    // multi-rater agreement gate; cap = the documented maxRaters
    // contract, (ts, event_id) total order so the sample is stable).
    "q226_krippendorff" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val capped = Tables.events(s, d)
        .withColumn("__rn", row_number().over(
          Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))))
        .filter(col("__rn") <= 8)
      EvalMetrics.krippendorffAlphaPpm(capped, "user_id", "event_type")
    }),
  )

  // ---- DuckDB oracles ---------------------------------------------------

  /** Shared q180–q182 CTE pair (`sc`, `lb`): the q147 integer quality
    * score joined with the is-English label and source. */
  private def qualityLabeledCte: String = {
    val allStop = TextFeatures.stopwords.values.flatten.toSeq.distinct
      .map(w => s"'$w'").mkString("[", ",", "]")
    s"""sc AS (SELECT doc_id,
       |    ((length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1000000 // length(text))
       |     + (len(list_filter(toks, t -> list_contains($allStop, t))) * 1000000 // len(toks))) // 2
       |    AS score_ppm
       |  FROM (SELECT doc_id, text, list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM documents)
       |  WHERE len(toks) >= 1 AND length(text) >= 1),
       |lb AS (SELECT sc.doc_id, sc.score_ppm, d.source,
       |    CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS l
       |  FROM sc JOIN documents d USING (doc_id))""".stripMargin
  }

  /** One BM25 ranking chain (q41's arithmetic verbatim) under a CTE
    * prefix, sharing the caller's `dld`/`stats` CTEs — lets q194 rank
    * the same corpus under two probe-term sets in one statement. */
  private def bm25RankCte(pfx: String, terms: Seq[String]): String = {
    val termList = terms.map(t => s"'$t'").mkString(", ")
    s"""${pfx}tf AS (SELECT doc_id, dl, term, count(*) AS tf
       |  FROM (SELECT doc_id, dl, unnest(toks) AS term FROM dld)
       |  WHERE term IN ($termList) GROUP BY 1, 2, 3),
       |${pfx}dfc AS (SELECT term, count(*) AS df FROM ${pfx}tf GROUP BY 1),
       |${pfx}scored AS (SELECT doc_id,
       |  CAST(floor(((n - df + 0.5)/(df + 0.5))
       |    * ((tf * (1.2 + 1)) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)))
       |    * 1000000.0) AS BIGINT) AS sq
       |  FROM ${pfx}tf JOIN ${pfx}dfc USING (term), stats),
       |${pfx}agg AS (SELECT doc_id, CAST(SUM(sq) AS BIGINT) AS bm25_q FROM ${pfx}scored GROUP BY 1),
       |${pfx}rk AS (SELECT doc_id,
       |  CAST(ROW_NUMBER() OVER (ORDER BY bm25_q DESC, doc_id ASC) AS BIGINT) AS rnk
       |  FROM ${pfx}agg)""".stripMargin
  }

  /** Polynomial code-point hash — DuckDB spelling of TextFeatures.charHash. */
  private def dh(e: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split($e, ''), c -> CAST(ascii(c) AS BIGINT))), (a, x) -> (a*31 + x) % 1000000007)"

  /** DuckDB BT.601 luma of the synthetic-gradient pixel (`sx`, `sy`) of
    * image `doc_id` — mirrors ImageDecoder.encodePng's RGB arithmetic. */
  private def dhLum(sx: String, sy: String): String =
    s"(299*((doc_id + ($sx)*31 + ($sy)*17) % 256) + " +
      s"587*(((doc_id // 8) + ($sx)) % 256) + 114*((doc_id + ($sy)) % 256))"

  /** One-shot self-scrub SQL — shared verbatim by q212 (one-shot) and
    * q220 (the incremental composition, which must land on the same
    * answer): keep the minimal doc_id·2²²+pos occurrence per
    * duplicated 5-window, cut every later one, re-digest. */
  private lazy val selfScrubSql: String =
    s"""WITH $corpusCte, $tokCte,
       |win AS (SELECT doc_id, i AS pos,
       |    ${dh("array_to_string(list_slice(toks, i, i + 4), ' ')")} AS h
       |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 3)) AS i
       |        FROM tok WHERE len(toks) >= 5)),
       |f AS (SELECT h, min(doc_id * 4194304 + pos) AS fk
       |  FROM win GROUP BY h HAVING count(*) > 1),
       |hit AS (SELECT doc_id, list_sort(list(DISTINCT pos)) AS ps
       |  FROM win JOIN f USING (h) WHERE doc_id * 4194304 + pos <> fk
       |  GROUP BY doc_id),
       |k AS (SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
       |    list_filter(t.toks, (x, i) ->
       |      NOT len(list_filter(COALESCE(h.ps, []), p -> p <= i AND i < p + 5)) > 0) AS kept
       |  FROM tok t LEFT JOIN hit h USING (doc_id) WHERE len(t.toks) >= 1)
       |SELECT doc_id, n_tokens, CAST(len(kept) AS BIGINT) AS n_kept,
       |  CAST(CASE WHEN len(kept) = 0 THEN 0
       |       ELSE ${dh("array_to_string(kept, ' ')")} END AS BIGINT) AS scrub_digest
       |FROM k ORDER BY doc_id""".stripMargin

  /** The 64-bit dHash of synthetic image `doc_id` with dims (w, h),
    * recomputed arithmetically: bit b compares the resized lumas at
    * grid (x, y) = (b%8, b//8) vs (b%8+1, b//8) through the integer
    * nearest-neighbor source-pixel selection. Bit 63 is spelled as the
    * Long.MIN literal — DuckDB raises on `1 << 63` where Spark's
    * `|=` wraps, and the two's-complement sum is exact either way. */
  private def dhashExpr: String = {
    val sx1 = "((b % 8) * w) // 9"
    val sx2 = "(((b % 8) + 1) * w) // 9"
    val sy = "((b // 8) * h) // 8"
    s"CAST(list_sum(list_transform(range(0, 64), b -> " +
      s"CASE WHEN ${dhLum(sx2, sy)} > ${dhLum(sx1, sy)} " +
      s"THEN CASE WHEN b = 63 THEN (-9223372036854775807 - 1) " +
      s"ELSE 1::BIGINT << b END ELSE 0::BIGINT END)) AS BIGINT)"
  }

  private val corpusCte =
    """corpus AS (
      | SELECT doc_id, text FROM documents
      | UNION ALL SELECT doc_id + 10000 AS doc_id, text FROM documents
      | UNION ALL SELECT doc_id + 20000 AS doc_id,
      |   array_to_string(list_slice(toks, 1, CAST((len(toks)*3)//5 AS INT)), ' ') AS text
      |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM documents)
      |  WHERE doc_id % 5 = 0 AND len(toks) >= 5
      |)""".stripMargin

  private val tokCte =
    "tok AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM corpus)"

  /** MinHash chain over relation `src` (CTE names prefixed with `p`):
    * trigram shingle hashes → 16-way signatures → 4 LSH bands →
    * candidate pairs with est_jaccard in `<p>est` (the oracle spelling
    * of TextDedup.minhashCandidates). */
  private def minhashChain(src: String, p: String): String =
    s"""${p}tok AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM $src),
       |${p}hs AS (SELECT doc_id, list_transform(
       |    list_transform(range(1, len(toks)-1), i -> array_to_string(list_slice(toks, i, i+2), ' ')),
       |    s -> ${dh("s")}) AS hashes
       |  FROM ${p}tok WHERE len(toks) >= 3),
       |${p}sig AS (SELECT doc_id, list_transform(range(0, 16), j ->
       |    list_min(list_transform(hashes, h -> ((2*j+3)*h + (5*j+7)) % 1000000007))) AS sig
       |  FROM ${p}hs),
       |${p}band AS (SELECT doc_id, sig, b AS band,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_slice(sig, b*4+1, b*4+4)),
       |      (a, x) -> (a*1000003 + x) % 1000000007) AS bucket
       |  FROM ${p}sig, range(0, 4) t(b)),
       |${p}pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.sig AS sig_a, b.sig AS sig_b
       |  FROM ${p}band a JOIN ${p}band b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
       |${p}est AS (SELECT id_a, id_b,
       |  CAST(len(list_filter(range(1, 17), i -> sig_a[i] = sig_b[i])) AS DOUBLE)/16 AS est_jaccard
       |  FROM ${p}pairs)""".stripMargin

  /** The q22/q36 chain over the demo corpus (unprefixed names; `est`). */
  /** The q78/q139 oracle chain: 3 BPE merge rounds trained and applied
    * in recursive SQL, ending in w3(wid, syms, n) with w0 carrying the
    * word text. */
  private lazy val bpeChainCtes: String = {
    def fold(name: String, prev: String, m: String): String =
      s"""$name(wid, i, acc) AS (
         |  SELECT wid, 1, [syms[1]] FROM $prev
         |  UNION ALL
         |  SELECT f.wid, f.i + 1,
         |    CASE WHEN f.acc[-1] = (SELECT l FROM $m) AND w.syms[f.i+1] = (SELECT r FROM $m)
         |      THEN list_append(f.acc[1:len(f.acc)-1], (SELECT l || r FROM $m))
         |      ELSE list_append(f.acc, w.syms[f.i+1]) END
         |  FROM $name f JOIN $prev w USING (wid) WHERE f.i < len(w.syms))""".stripMargin
    def pairs(name: String, src: String): String =
      s"""$name AS (SELECT syms[i] AS l, syms[i+1] AS r, SUM(n) AS f
         |  FROM $src, unnest(range(1, len(syms))) t(i) WHERE len(syms) >= 2 GROUP BY 1, 2)""".stripMargin
    s"""vocab AS (SELECT t AS w, COUNT(*) AS n FROM (
       |  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS t FROM documents) GROUP BY 1),
       |w0 AS (SELECT ROW_NUMBER() OVER (ORDER BY w) AS wid, w,
       |  list_transform(range(1, length(w)+1), i -> w[i:i]) AS syms, n FROM vocab),
       |${pairs("p1", "w0")},
       |m1 AS (SELECT l, r, f FROM p1 ORDER BY f DESC, l ASC, r ASC LIMIT 1),
       |${fold("f1", "w0", "m1")},
       |w1 AS (SELECT f.wid, f.acc AS syms, w.n FROM f1 f JOIN w0 w USING (wid) WHERE f.i = len(w.syms)),
       |${pairs("p2", "w1")},
       |m2 AS (SELECT l, r, f FROM p2 ORDER BY f DESC, l ASC, r ASC LIMIT 1),
       |${fold("f2", "w1", "m2")},
       |w2 AS (SELECT f.wid, f.acc AS syms, w.n FROM f2 f JOIN w1 w USING (wid) WHERE f.i = len(w.syms)),
       |${pairs("p3", "w2")},
       |m3 AS (SELECT l, r, f FROM p3 ORDER BY f DESC, l ASC, r ASC LIMIT 1),
       |${fold("f3", "w2", "m3")},
       |w3 AS (SELECT f.wid, f.acc AS syms, w.n FROM f3 f JOIN w2 w USING (wid) WHERE f.i = len(w.syms))"""
      .stripMargin
  }

  private lazy val minhashCtes = s"$corpusCte,\n${minhashChain("corpus", "")}"

  /** The q25/q58 candidate-pair chain: duplicate-salted embedding
    * corpus → 2-band sign-LSH buckets → cap ≤ 10000 → distinct pairs
    * (with both vectors riding for the cosine confirm). */
  private val embPairCtes =
    """ecorpus AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  UNION ALL SELECT vec_id + 10000, embedding FROM embeddings),
      |bk AS (SELECT vec_id, embedding, b AS band,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(0, 8), i ->
      |    CASE WHEN embedding[b*8+i+1] > 0 THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END)),
      |    (a, x) -> a + x) AS bucket
      |  FROM ecorpus, range(0, 2) t(b)),
      |ok AS (SELECT bk.vec_id, bk.embedding, bk.band, bk.bucket FROM bk
      |  JOIN (SELECT band, bucket, count(*) AS n FROM bk GROUP BY 1, 2) c
      |  USING (band, bucket) WHERE c.n <= 10000),
      |pairs AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b, a.embedding AS va, b.embedding AS vb
      |  FROM ok a JOIN ok b ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id)""".stripMargin

  /** [[embPairCtes]] without the hot-bucket cap: candidates straight
    * off the banded index — the enumeration the cap-free incremental
    * step ([[graft.ops.Similarity.nearDupStep]]) is contracted to. */
  private val embPairCtesUncapped =
    """ecorpus AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  UNION ALL SELECT vec_id + 10000, embedding FROM embeddings),
      |bk AS (SELECT vec_id, embedding, b AS band,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(0, 8), i ->
      |    CASE WHEN embedding[b*8+i+1] > 0 THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END)),
      |    (a, x) -> a + x) AS bucket
      |  FROM ecorpus, range(0, 2) t(b)),
      |pairs AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b, a.embedding AS va, b.embedding AS vb
      |  FROM bk a JOIN bk b ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id)""".stripMargin

  private def cosSql(a: String, b: String): String = {
    def dot(x: String, y: String) =
      s"list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, 65), i -> CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE))), (a, x) -> a + x)"
    s"${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)}))"
  }

  /** DuckDB HRW shard of `key` (a VARCHAR-typed SQL expression) among
    * `shards` — mirrors Curation.rendezvousShard: argmax of the
    * polynomial hash of key#s, ties to the larger shard id. */
  private def hrwSql(key: String, shards: Int): String = {
    val items = (0 until shards).map { s =>
      val h = dh(s"'$s#' || $key")
      s"struct_pack(h := ($h) * ($h) % 1000000007, s := CAST($s AS BIGINT))"
    }.mkString(", ")
    s"list_reduce([$items], (a, x) -> CASE WHEN x.h > a.h OR (x.h = a.h AND x.s > a.s) THEN x ELSE a END).s"
  }

  /** One-shot near-dup pair SQL (capped construction) — q25's oracle. */
  private lazy val nearDupSql: String =
    s"""WITH $embPairCtes
       |SELECT id_a, id_b, ${cosSql("va", "vb")} AS cosine
       |FROM pairs WHERE ${cosSql("va", "vb")} >= 0.99
       |ORDER BY id_a, id_b""".stripMargin

  /** Cap-FREE near-dup pair SQL — q227's oracle. The incremental step
    * is cap-free by design (the cap belongs at index build/compaction,
    * not inside the probe), so its equivalence contract is against the
    * UNCAPPED one-shot enumeration: on a corpus where any LSH bucket
    * exceeds the one-shot `bucketCap`, q25 drops pairs that the step
    * union rightly keeps. Same CTEs minus the bucket-count filter. */
  private lazy val nearDupSqlUncapped: String =
    s"""WITH $embPairCtesUncapped
       |SELECT id_a, id_b, ${cosSql("va", "vb")} AS cosine
       |FROM pairs WHERE ${cosSql("va", "vb")} >= 0.99
       |ORDER BY id_a, id_b""".stripMargin

  /** cosSql over the first `d` dimensions only — the matryoshka
    * truncation: identical per-element double arithmetic and ascending
    * fold order, just fewer terms. */
  private def cosSqlD(a: String, b: String, d: Int): String = {
    def dot(x: String, y: String) =
      s"list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, ${d + 1}), i -> CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE))), (a, x) -> a + x)"
    s"${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)}))"
  }

  private val signBucketSql =
    "list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(0, 8), i -> CASE WHEN embedding[i+1] > 0 THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END)), (a, x) -> a + x)"

  private def stopList(lang: String): String =
    TextFeatures.stopwords(lang).map(w => s"'$w'").mkString("[", ",", "]")

  /** Shared qsketch cell build (subBits=4) of documents.n_chars by
    * source — the q232/q233/q234 drift tier all read this one sketch,
    * exactly as Sketches.qsketchCells spells it (e = binary exponent
    * via length(bin(v)), m = v >> max(e−4, 0), v=0 → sentinel (−1,0)). */
  private val docCellsCte =
    """src AS (SELECT source AS g, CAST(n_chars AS BIGINT) AS v FROM documents),
      |cells AS (SELECT g,
      |    CAST(CASE WHEN v = 0 THEN -1 ELSE length(bin(v)) - 1 END AS BIGINT) AS e,
      |    CAST(v >> greatest(CASE WHEN v = 0 THEN -1 ELSE length(bin(v)) - 1 END - 4, 0) AS BIGINT) AS m,
      |    CAST(count(*) AS BIGINT) AS cnt
      |  FROM src GROUP BY 1, 2, 3)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q21_dedup_exact" ->
      s"""WITH $corpusCte
         |SELECT min(doc_id) AS canonical_id, count(*) AS n_copies
         |FROM corpus GROUP BY text HAVING count(*) > 1
         |ORDER BY canonical_id""".stripMargin,

    "q22_dedup_minhash_lsh" ->
      s"""WITH $minhashCtes
         |SELECT id_a, id_b, est_jaccard FROM est ORDER BY id_a, id_b""".stripMargin,

    "q36_dedup_clusters" ->
      s"""WITH RECURSIVE $minhashCtes,
         |cand AS (SELECT id_a, id_b FROM est WHERE est_jaccard >= 0.75),
         |und AS (SELECT id_a AS a, id_b AS b FROM cand UNION SELECT id_b, id_a FROM cand),
         |reach(node, r) AS (
         |  SELECT a, a FROM (SELECT DISTINCT a FROM und)
         |  UNION
         |  SELECT u.b, r.r FROM reach r JOIN und u ON u.a = r.node)
         |SELECT node AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
         |FROM reach GROUP BY 1 ORDER BY doc_id""".stripMargin,

    "q23_dedup_simhash" ->
      s"""WITH $corpusCte, $tokCte,
         |th AS (SELECT doc_id, ${dh("t")} AS h
         |  FROM (SELECT doc_id, unnest(toks) AS t FROM tok)),
         |bits AS (SELECT doc_id, b, SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS cnt
         |  FROM th, range(0, 30) r(b) GROUP BY 1, 2),
         |sh AS (SELECT doc_id, SUM(CASE WHEN cnt > 0 THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END) AS simhash
         |  FROM bits GROUP BY 1),
         |band AS (SELECT doc_id, simhash, b AS band, (simhash >> (b*15)) & 32767 AS bucket
         |  FROM sh, range(0, 2) r(b))
         |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |FROM band a JOIN band b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 1
         |ORDER BY id_a, id_b""".stripMargin,

    // Shingles are joined/counted as their polynomial hash (fixed-width
    // shuffle key), mirroring TextDedup.ngramJaccardPairs: hash FIRST,
    // then distinct — a collision merges shingles identically on both
    // engines.
    "q24_dedup_ngram_jaccard" ->
      s"""WITH $corpusCte, $tokCte,
         |dsh AS (SELECT unnest(list_distinct(list_transform(
         |    list_transform(range(1, len(toks)-1), i -> array_to_string(list_slice(toks, i, i+2), ' ')),
         |    s -> ${dh("s")}))) AS shingle
         |  FROM (SELECT list_filter(string_split(text, ' '), t -> t <> '') AS toks
         |        FROM (SELECT DISTINCT text FROM corpus)) WHERE len(toks) >= 3),
         |stop AS (SELECT shingle FROM dsh GROUP BY shingle HAVING count(*) > $StopShingleDf),
         |sh0 AS (SELECT doc_id, unnest(list_distinct(list_transform(
         |    list_transform(range(1, len(toks)-1), i -> array_to_string(list_slice(toks, i, i+2), ' ')),
         |    s -> ${dh("s")}))) AS shingle
         |  FROM tok WHERE len(toks) >= 3),
         |sh AS (SELECT doc_id, shingle FROM sh0
         |  WHERE shingle NOT IN (SELECT shingle FROM stop)),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2)
         |SELECT id_a, id_b, CAST(n_inter AS DOUBLE)/(sa.n + sb.n - n_inter) AS jaccard
         |FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
         |WHERE CAST(n_inter AS DOUBLE)/(sa.n + sb.n - n_inter) >= 0.5
         |ORDER BY id_a, id_b""".stripMargin,

    // Mirrors the capped multi-band construction of
    // Similarity.nearDupCandidates: band b ∈ {0,1} buckets on the sign
    // pattern of dims [b*8+1, b*8+8]; buckets > cap are excluded; the
    // candidate set is the DISTINCT union over bands.
    "q25_embedding_neardup" -> nearDupSql,

    // The incremental composition must land exactly on the UNCAPPED
    // one-shot pair set — the step is cap-free by design, so its
    // oracle must be too (scale-robust even when a bucket exceeds the
    // one-shot path's bucketCap).
    "q227_neardup_inc" -> nearDupSqlUncapped,

    // q25's pair graph at the same 0.99 threshold, collapsed to
    // connected components (min reachable id per node) — mirrors
    // ConnectedComponents.labels over Similarity.nearDupPairs.
    "q58_embedding_clusters" ->
      s"""WITH RECURSIVE $embPairCtes,
         |cand AS (SELECT id_a, id_b FROM pairs WHERE ${cosSql("va", "vb")} >= 0.99),
         |und AS (SELECT id_a AS a, id_b AS b FROM cand UNION SELECT id_b, id_a FROM cand),
         |reach(node, r) AS (
         |  SELECT a, a FROM (SELECT DISTINCT a FROM und)
         |  UNION
         |  SELECT u.b, r.r FROM reach r JOIN und u ON u.a = r.node)
         |SELECT node AS vec_id, CAST(min(r) AS BIGINT) AS cluster_id
         |FROM reach GROUP BY 1 ORDER BY vec_id""".stripMargin,

    "q26_knn_bruteforce" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 20),
         |c AS (SELECT vec_id AS neighbor_id, embedding AS ce FROM embeddings),
         |sc AS (SELECT query_id, neighbor_id, ${cosSql("qe", "ce")} AS cosine
         |  FROM q, c WHERE neighbor_id <> query_id),
         |rk AS (SELECT query_id, neighbor_id, cosine,
         |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rnk FROM sc)
         |SELECT query_id, neighbor_id, rnk, cosine FROM rk WHERE rnk <= 5
         |ORDER BY query_id, rnk""".stripMargin,

    "q27_knn_lsh" ->
      s"""WITH e AS (SELECT vec_id, embedding, $signBucketSql AS bucket FROM embeddings),
         |q AS (SELECT vec_id AS query_id, embedding AS qe, bucket FROM e WHERE vec_id < 20),
         |sc AS (SELECT query_id, e.vec_id AS neighbor_id, ${cosSql("qe", "e.embedding")} AS cosine
         |  FROM q JOIN e USING (bucket) WHERE e.vec_id <> query_id),
         |rk AS (SELECT query_id, neighbor_id, cosine,
         |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rnk FROM sc)
         |SELECT query_id, neighbor_id, rnk, cosine FROM rk WHERE rnk <= 3
         |ORDER BY query_id, rnk""".stripMargin,

    "q35_knn_ivf" ->
      s"""WITH seeds AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < 16),
         |scored AS (SELECT e.vec_id, e.embedding, s.cid, ${cosSql("e.embedding", "s.ce")} AS c
         |  FROM embeddings e, seeds s),
         |assign AS (SELECT vec_id AS neighbor_id, embedding AS cv, cid FROM (
         |  SELECT vec_id, embedding, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY c DESC, cid ASC) AS rn
         |  FROM scored) WHERE rn = 1),
         |probes AS (SELECT vec_id AS query_id, embedding AS qv, cid FROM (
         |  SELECT vec_id, embedding, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY c DESC, cid ASC) AS rn
         |  FROM scored WHERE vec_id < 20) WHERE rn <= 2),
         |cand AS (SELECT query_id, neighbor_id, ${cosSql("qv", "cv")} AS cosine
         |  FROM probes JOIN assign USING (cid) WHERE neighbor_id <> query_id),
         |rk AS (SELECT query_id, neighbor_id, cosine,
         |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rnk FROM cand)
         |SELECT query_id, neighbor_id, rnk, cosine FROM rk WHERE rnk <= 5
         |ORDER BY query_id, rnk""".stripMargin,

    "q28_lang_id" ->
      s"""WITH tok AS (SELECT doc_id, lang, list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM documents),
         |h AS (SELECT doc_id, lang,
         |  len(list_filter(toks, t -> list_contains(${stopList("de")}, t))) AS h_de,
         |  len(list_filter(toks, t -> list_contains(${stopList("en")}, t))) AS h_en,
         |  len(list_filter(toks, t -> list_contains(${stopList("es")}, t))) AS h_es,
         |  len(list_filter(toks, t -> list_contains(${stopList("fr")}, t))) AS h_fr
         | FROM tok)
         |SELECT doc_id, lang, CASE
         |  WHEN h_de > 0 AND h_de >= h_en AND h_de >= h_es AND h_de >= h_fr THEN 'de'
         |  WHEN h_en > 0 AND h_en >= h_de AND h_en >= h_es AND h_en >= h_fr THEN 'en'
         |  WHEN h_es > 0 AND h_es >= h_de AND h_es >= h_en AND h_es >= h_fr THEN 'es'
         |  WHEN h_fr > 0 AND h_fr >= h_de AND h_fr >= h_en AND h_fr >= h_es THEN 'fr'
         |  ELSE 'und' END AS pred_lang
         |FROM h ORDER BY doc_id""".stripMargin,

    "q29_quality_score" -> {
      val allStop = TextFeatures.stopwords.values.flatten.toSeq.distinct
        .map(w => s"'$w'").mkString("[", ",", "]")
      s"""WITH tok AS (SELECT doc_id, text, list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM documents)
         |SELECT doc_id,
         |  CAST(len(toks) AS BIGINT) AS n_tokens,
         |  list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(toks, t -> CAST(length(t) AS DOUBLE))), (a, x) -> a + x) / CAST(len(toks) AS DOUBLE) AS mean_token_len,
         |  CAST(len(list_filter(toks, t -> list_contains($allStop, t))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS stopword_ratio,
         |  CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) AS alpha_ratio
         |FROM tok ORDER BY doc_id""".stripMargin
    },

    "q30_token_stats" ->
      s"""WITH tok AS (SELECT doc_id, text, list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM documents)
         |SELECT doc_id,
         |  CAST(len(toks) AS BIGINT) AS ws_tokens,
         |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS bpeish_tokens,
         |  CAST(length(text) AS BIGINT) AS n_chars
         |FROM tok ORDER BY doc_id""".stripMargin,

    "q31_fingerprint" ->
      s"""WITH tok AS (SELECT doc_id, text, list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM documents)
         |SELECT doc_id, ${dh("text")} AS fp_full,
         |  CASE WHEN len(toks) >= 8 THEN list_min(list_transform(
         |    list_transform(range(1, len(toks)-6), i -> array_to_string(list_slice(toks, i, i+7), ' ')),
         |    s -> ${dh("s")}))
         |  ELSE ${dh("text")} END AS fp_winnow
         |FROM tok ORDER BY doc_id""".stripMargin,

    "q32_multimodal_meta" ->
      s"""SELECT doc_id,
         |  CAST(strlen(text) AS BIGINT) AS byte_len,
         |  CAST(strlen(text)//100 + 1 AS BIGINT) AS n_frames,
         |  ${dh("text")} AS checksum
         |FROM documents ORDER BY doc_id""".stripMargin,

    "q60_image_meta" ->
      """SELECT doc_id,
        |  CAST(doc_id % 16 + 1 AS INTEGER) AS width,
        |  CAST(doc_id % 7 + 1 AS INTEGER) AS height,
        |  'png' AS fmt
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Mirrors Multimodal.resizedChecksums (8×8 nearest-neighbor): the
    // resized raster recomputed from the gradient arithmetic — source
    // pixel (x·w DIV 8, y·h DIV 8), ARGB fold in row-major order.
    "q71_image_resize" ->
      """SELECT doc_id,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(0, 64), i ->
        |    4278190080
        |    + (((doc_id + ((i%8)*(doc_id%16+1)//8)*31 + ((i//8)*(doc_id%7+1)//8)*17) % 256) << 16)
        |    + ((((doc_id >> 3) + (i%8)*(doc_id%16+1)//8) % 256) << 8)
        |    + ((doc_id + (i//8)*(doc_id%7+1)//8) % 256)
        |  )), (a, x) -> (a*31 + x) % 1000000007) AS checksum
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Mirrors Multimodal.frameSample (every 3rd 100-code-point frame):
    // correlated range over ceil(len/100), code-point substring, the
    // engine's polynomial fold per frame.
    "q72_frame_sample" ->
      s"""WITH f AS (SELECT doc_id, i AS frame_idx,
         |    substring(text, CAST(i*100+1 AS INT), 100) AS fr
         |  FROM documents, unnest(range(0, CAST((length(text)+99)//100 AS BIGINT))) t(i)
         |  WHERE i % 3 = 0)
         |SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx, ${dh("fr")} AS frame_hash
         |FROM f ORDER BY doc_id, frame_idx""".stripMargin,

    // Mirrors Multimodal.audioMeta: PCM16LE mono at 8 kHz, n_samples =
    // doc_id%50+10, u16 sample (doc_id·31 + i·7) mod 65536, polynomial
    // fold.
    "q73_audio_meta" ->
      """SELECT doc_id,
        |  CAST(8000 AS INTEGER) AS sample_rate, CAST(1 AS INTEGER) AS n_channels,
        |  CAST(doc_id % 50 + 10 AS BIGINT) AS n_samples,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
        |    range(0, doc_id % 50 + 10), i -> (doc_id*31 + i*7) % 65536)),
        |    (a,x) -> (a*31+x) % 1000000007) AS checksum
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Mirrors BpeTrainer.trainMerges (3 rounds): word-frequency vocab,
    // per-round pair counts with (f DESC, l, r) argmax, and the
    // greedy-leftmost merge replayed as a recursive per-word fold.
    "q77_bpe_merges" -> {
      def fold(name: String, prev: String, m: String): String =
        s"""$name(wid, i, acc) AS (
           |  SELECT wid, 1, [syms[1]] FROM $prev
           |  UNION ALL
           |  SELECT f.wid, f.i + 1,
           |    CASE WHEN f.acc[-1] = (SELECT l FROM $m) AND w.syms[f.i+1] = (SELECT r FROM $m)
           |      THEN list_append(f.acc[1:len(f.acc)-1], (SELECT l || r FROM $m))
           |      ELSE list_append(f.acc, w.syms[f.i+1]) END
           |  FROM $name f JOIN $prev w USING (wid) WHERE f.i < len(w.syms))""".stripMargin
      def pairs(name: String, src: String): String =
        s"""$name AS (SELECT syms[i] AS l, syms[i+1] AS r, SUM(n) AS f
           |  FROM $src, unnest(range(1, len(syms))) t(i) WHERE len(syms) >= 2 GROUP BY 1, 2)""".stripMargin
      s"""WITH RECURSIVE
         |vocab AS (SELECT t AS w, COUNT(*) AS n FROM (
         |  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS t FROM documents) GROUP BY 1),
         |w0 AS (SELECT ROW_NUMBER() OVER (ORDER BY w) AS wid,
         |  list_transform(range(1, length(w)+1), i -> w[i:i]) AS syms, n FROM vocab),
         |${pairs("p1", "w0")},
         |m1 AS (SELECT l, r, f FROM p1 ORDER BY f DESC, l ASC, r ASC LIMIT 1),
         |${fold("f1", "w0", "m1")},
         |w1 AS (SELECT f.wid, f.acc AS syms, w.n FROM f1 f JOIN w0 w USING (wid) WHERE f.i = len(w.syms)),
         |${pairs("p2", "w1")},
         |m2 AS (SELECT l, r, f FROM p2 ORDER BY f DESC, l ASC, r ASC LIMIT 1),
         |${fold("f2", "w1", "m2")},
         |w2 AS (SELECT f.wid, f.acc AS syms, w.n FROM f2 f JOIN w1 w USING (wid) WHERE f.i = len(w.syms)),
         |${pairs("p3", "w2")},
         |m3 AS (SELECT l, r, f FROM p3 ORDER BY f DESC, l ASC, r ASC LIMIT 1)
         |SELECT CAST(1 AS BIGINT) AS rnk, l AS merge_left, r AS merge_right, CAST(f AS BIGINT) AS freq FROM m1
         |UNION ALL SELECT 2, l, r, CAST(f AS BIGINT) FROM m2
         |UNION ALL SELECT 3, l, r, CAST(f AS BIGINT) FROM m3
         |ORDER BY rnk""".stripMargin
    },

    // Mirrors BpeTrainer.trainMerges + applyMerges: q77's chain plus a
    // third fold, emitting each vocab word's final segmentation.
    "q78_bpe_segment" ->
      s"""WITH RECURSIVE
         |$bpeChainCtes
         |SELECT w0.w AS word, CAST(w3.n AS BIGINT) AS n, CAST(len(w3.syms) AS BIGINT) AS n_syms,
         |  array_to_string(w3.syms, ' ') AS segmented
         |FROM w3 JOIN w0 USING (wid) ORDER BY word""".stripMargin,

    // PQ: first-16 codebook indexed 0..15 in id order; per (vec, sub)
    // the ordered double fold of squared diffs, argmin by (d2, code).
    "q143_pq_codes" ->
      """WITH cb AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS code, embedding AS ce
        |  FROM embeddings WHERE vec_id < 16),
        |d AS (SELECT e.vec_id, s.sub, cb.code,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, 9), i ->
        |      (CAST(e.embedding[s.sub*8 + i] AS DOUBLE) - CAST(cb.ce[s.sub*8 + i] AS DOUBLE))
        |      * (CAST(e.embedding[s.sub*8 + i] AS DOUBLE) - CAST(cb.ce[s.sub*8 + i] AS DOUBLE)))),
        |      (a, x) -> a + x) AS d2
        |  FROM embeddings e, range(0, 8) s(sub), cb),
        |a AS (SELECT vec_id, sub, code,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d2 ASC, code ASC) AS rn FROM d)
        |SELECT vec_id, CAST(sub AS BIGINT) AS sub, CAST(code AS BIGINT) AS code
        |FROM a WHERE rn = 1 ORDER BY vec_id, sub""".stripMargin,

    // Quantile shift: the q56 rank formula per (side, group), joined.
    "q201_quantile_shift" ->
      """WITH b AS (SELECT event_type AS g, CAST(floor(value * 1000) AS BIGINT) AS v,
        |    CAST(floor(epoch(ts)) AS BIGINT) >= 1706054400 AS aft FROM events),
        |r AS (SELECT g, aft, v, ROW_NUMBER() OVER (PARTITION BY g, aft ORDER BY v) AS rnk,
        |    COUNT(*) OVER (PARTITION BY g, aft) AS n FROM b),
        |q AS (SELECT g, aft, CAST(pct AS BIGINT) AS pct, v FROM r,
        |    (SELECT unnest([50, 90]) AS pct)
        |  WHERE rnk = (n * pct + 99) // 100)
        |SELECT bf.g AS event_type, bf.pct, bf.v AS v_before, af.v AS v_after,
        |  af.v - bf.v AS shift
        |FROM (SELECT * FROM q WHERE NOT aft) bf
        |JOIN (SELECT * FROM q WHERE aft) af ON af.g = bf.g AND af.pct = bf.pct
        |ORDER BY event_type, bf.pct""".stripMargin,

    // Label noise: the q27 LSH chain with every vector as query,
    // top-5, label join, agreement fold.
    "q199_label_noise" ->
      s"""WITH e AS (SELECT vec_id, embedding, label, $signBucketSql AS bucket FROM embeddings),
         |sc AS (SELECT q.vec_id AS query_id, e2.vec_id AS neighbor_id,
         |    ${cosSql("q.embedding", "e2.embedding")} AS cosine
         |  FROM e q JOIN e e2 USING (bucket) WHERE e2.vec_id <> q.vec_id),
         |rk AS (SELECT query_id, neighbor_id,
         |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rnk FROM sc),
         |top AS (SELECT query_id, neighbor_id FROM rk WHERE rnk <= 5),
         |j AS (SELECT t.query_id, CAST(ql.label AS VARCHAR) AS l,
         |    CASE WHEN CAST(nl.label AS VARCHAR) = CAST(ql.label AS VARCHAR) THEN 1 ELSE 0 END AS agree
         |  FROM top t JOIN embeddings ql ON ql.vec_id = t.query_id
         |  JOIN embeddings nl ON nl.vec_id = t.neighbor_id),
         |a AS (SELECT query_id, l, CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(agree) AS BIGINT) AS na FROM j GROUP BY 1, 2)
         |SELECT query_id, l AS label, n AS n_neighbors, na AS n_agree,
         |  CAST((na * 1000000) // n AS BIGINT) AS agree_ppm,
         |  CAST(CASE WHEN (na * 1000000) // n < 400000 THEN 1 ELSE 0 END AS BIGINT) AS suspect
         |FROM a ORDER BY query_id""".stripMargin,

    // Conversion lag: q197's pairing, first touch by ROW_NUMBER, the
    // q56 rank formula for the percentiles.
    "q200_conversion_lag" ->
      """WITH b AS (SELECT user_id AS u, CAST(floor(epoch(ts)) AS BIGINT) AS sec,
        |    event_id AS tie, event_type AS t FROM events),
        |c AS (SELECT u, sec AS cs, tie AS ct FROM b WHERE t = 'purchase'),
        |tc AS (SELECT u, sec AS tsx, tie AS tt, t FROM b WHERE t <> 'purchase'),
        |p AS (SELECT c.u, c.cs, c.ct, tc.tsx, tc.tt, tc.t
        |  FROM c JOIN tc ON tc.u = c.u
        |  WHERE tc.tsx >= c.cs - 7200
        |    AND (tc.tsx < c.cs OR (tc.tsx = c.cs AND tc.tt < c.ct))),
        |f AS (SELECT t, cs - tsx AS value FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY u, cs, ct
        |    ORDER BY tsx ASC, tt ASC) AS rn FROM p) WHERE rn = 1),
        |r AS (SELECT t AS event_type, value,
        |    ROW_NUMBER() OVER (PARTITION BY t ORDER BY value) AS rnk,
        |    COUNT(*) OVER (PARTITION BY t) AS n FROM f)
        |SELECT event_type, CAST(pct AS BIGINT) AS pct, value
        |FROM r, (SELECT unnest([50, 90]) AS pct)
        |WHERE rnk = (n * pct + 99) // 100
        |ORDER BY event_type, pct""".stripMargin,

    // Attribution: user-key pair join, ROW_NUMBER first/last, v//n
    // linear with the remainder on the last touch.
    "q197_attribution" ->
      """WITH b AS (SELECT user_id AS u, CAST(floor(epoch(ts)) AS BIGINT) AS sec,
        |    event_id AS tie, event_type AS t,
        |    greatest(CAST(floor(value * 1000) AS BIGINT), 0) AS v FROM events),
        |c AS (SELECT u, sec AS cs, tie AS ct, v FROM b WHERE t = 'purchase'),
        |tc AS (SELECT u, sec AS tsx, tie AS tt, t FROM b WHERE t <> 'purchase'),
        |p AS (SELECT c.u, c.cs, c.ct, c.v, tc.tsx, tc.tt, tc.t,
        |    (tc.tsx IS NOT NULL AND tc.tsx >= c.cs - 7200
        |      AND (tc.tsx < c.cs OR (tc.tsx = c.cs AND tc.tt < c.ct))) AS iw
        |  FROM c LEFT JOIN tc ON tc.u = c.u),
        |pc AS (SELECT u, cs, ct, v,
        |    CAST(COUNT(CASE WHEN iw THEN 1 END) AS BIGINT) AS n
        |  FROM p GROUP BY 1, 2, 3, 4),
        |fl AS (SELECT u, cs, ct, t AS ft FROM (
        |  SELECT u, cs, ct, t, ROW_NUMBER() OVER (PARTITION BY u, cs, ct
        |    ORDER BY tsx ASC, tt ASC) AS rn FROM p WHERE iw) WHERE rn = 1),
        |ll AS (SELECT u, cs, ct, t AS lt FROM (
        |  SELECT u, cs, ct, t, ROW_NUMBER() OVER (PARTITION BY u, cs, ct
        |    ORDER BY tsx DESC, tt DESC) AS rn FROM p WHERE iw) WHERE rn = 1),
        |fc AS (SELECT fl.ft AS event_type, CAST(SUM(pc.v) AS BIGINT) AS first_touch_q
        |  FROM pc JOIN fl USING (u, cs, ct) GROUP BY 1),
        |lc AS (SELECT ll.lt AS event_type, CAST(COUNT(*) AS BIGINT) AS n_conversions,
        |    CAST(SUM(pc.v) AS BIGINT) AS last_touch_q,
        |    CAST(SUM(pc.v - (pc.v // pc.n) * pc.n) AS BIGINT) AS rem
        |  FROM pc JOIN ll USING (u, cs, ct) WHERE pc.n > 0 GROUP BY 1),
        |ln AS (SELECT p.t AS event_type, CAST(SUM(pc.v // pc.n) AS BIGINT) AS lin
        |  FROM p JOIN pc USING (u, cs, ct) WHERE p.iw GROUP BY 1),
        |f AS (SELECT event_type,
        |    COALESCE(lc.n_conversions, 0) AS n_conversions,
        |    COALESCE(fc.first_touch_q, 0) AS first_touch_q,
        |    COALESCE(lc.last_touch_q, 0) AS last_touch_q,
        |    COALESCE(ln.lin, 0) + COALESCE(lc.rem, 0) AS linear_q
        |  FROM fc FULL JOIN lc USING (event_type) FULL JOIN ln USING (event_type)),
        |un AS (SELECT '(unattributed)' AS event_type,
        |    CAST(COUNT(*) AS BIGINT) AS n_conversions,
        |    CAST(COALESCE(SUM(v), 0) AS BIGINT) AS tot FROM pc WHERE n = 0)
        |SELECT * FROM f
        |UNION ALL SELECT event_type, n_conversions, tot, tot, tot FROM un
        |WHERE n_conversions > 0
        |ORDER BY event_type""".stripMargin,

    // Rate spikes: per-type uniform baseline over its own bucket span,
    // cross-multiplied Poisson bound in HUGEINT.
    "q198_rate_spikes" ->
      """WITH c AS (SELECT event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 21600 AS bucket,
        |    CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2),
        |bl AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS tot,
        |    CAST(MAX(bucket) - MIN(bucket) + 1 AS BIGINT) AS nb FROM c GROUP BY 1)
        |SELECT c.event_type, c.bucket, c.n,
        |  CAST((bl.tot * 1000) // bl.nb AS BIGINT) AS expected_milli,
        |  CAST(CASE WHEN c.n * bl.nb > bl.tot AND
        |      (CAST(c.n AS HUGEINT) * bl.nb - bl.tot)
        |        * (CAST(c.n AS HUGEINT) * bl.nb - bl.tot) * 100
        |        > CAST(30 AS HUGEINT) * 30 * bl.tot * bl.nb
        |    THEN 1 ELSE 0 END AS BIGINT) AS spike
        |FROM c JOIN bl USING (event_type) ORDER BY event_type, bucket""".stripMargin,

    // Isotonic: prefix sums, floored pooled rates, minimax over
    // (k <= i <= j) triples.
    "q195_isotonic" ->
      s"""WITH $qualityLabeledCte,
         |b AS (SELECT least(9, (score_ppm * 10) // 1000000) AS bin, l FROM lb),
         |g AS (SELECT bin, CAST(count(*) AS BIGINT) AS n, CAST(SUM(l) AS BIGINT) AS p FROM b GROUP BY 1),
         |pre AS (SELECT bin, n, p,
         |    CAST(SUM(n) OVER (ORDER BY bin) AS BIGINT) AS w,
         |    CAST(SUM(p) OVER (ORDER BY bin) AS BIGINT) AS s FROM g),
         |kk AS (SELECT bin AS k, w - n AS wk, s - p AS sk FROM pre),
         |jj AS (SELECT bin AS j, w AS wj, s AS sj FROM pre),
         |pr AS (SELECT k, j, ((sj - sk) * 1000000) // (wj - wk) AS rate
         |  FROM kk JOIN jj ON k <= j),
         |fi AS (SELECT pre.bin, pr.k, MIN(pr.rate) AS mn
         |  FROM pre JOIN pr ON pr.k <= pre.bin AND pr.j >= pre.bin
         |  GROUP BY 1, 2),
         |ft AS (SELECT bin, CAST(MAX(mn) AS BIGINT) AS fitted_ppm FROM fi GROUP BY 1)
         |SELECT CAST(pre.bin AS BIGINT) AS bin, pre.n,
         |  CAST((pre.p * 1000000) // pre.n AS BIGINT) AS pos_rate_ppm,
         |  ft.fitted_ppm
         |FROM pre JOIN ft USING (bin) ORDER BY bin""".stripMargin,

    // Interleave: per-source hash-order rank, then the global
    // (rank, source) order is the schedule.
    "q196_interleave" ->
      s"""WITH h AS (SELECT doc_id, source,
         |    ${dh("text || '#' || CAST(doc_id AS VARCHAR)")} AS hh FROM documents),
         |r AS (SELECT doc_id, source,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY hh, doc_id) AS BIGINT) AS rnk
         |  FROM h)
         |SELECT doc_id, source, rnk AS rank_in_source,
         |  CAST(ROW_NUMBER() OVER (ORDER BY rnk, source, doc_id) AS BIGINT) AS global_pos
         |FROM r ORDER BY global_pos""".stripMargin,

    // Cluster purity: the q39 Lloyd chain, label join, window-free
    // majority with (count DESC, label ASC) ties.
    "q193_cluster_purity" ->
      s"""WITH c0 AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < 8),
         |s1 AS (SELECT e.vec_id, e.embedding, c.cid, ${cosSql("e.embedding", "c.ce")} AS c
         |  FROM embeddings e, c0 c),
         |a1 AS (SELECT vec_id, embedding, cid FROM (
         |  SELECT vec_id, embedding, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY c DESC, cid ASC) AS rn
         |  FROM s1) WHERE rn = 1),
         |c1d AS (SELECT cid, i,
         |  CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)) AS DOUBLE)
         |    / (CAST(COUNT(*) AS DOUBLE) * 1000000.0) AS cv
         |  FROM a1, range(1, 65) r(i) GROUP BY 1, 2),
         |c1 AS (SELECT cid, list(CAST(cv AS FLOAT) ORDER BY i) AS ce FROM c1d GROUP BY cid),
         |s2 AS (SELECT e.vec_id, c.cid, ${cosSql("e.embedding", "c.ce")} AS cosine
         |  FROM embeddings e, c1 c),
         |a2 AS (SELECT vec_id, cid FROM (
         |  SELECT vec_id, cid, cosine, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cosine DESC, cid ASC) AS rn
         |  FROM s2) WHERE rn = 1),
         |j AS (SELECT a2.cid, CAST(e.label AS VARCHAR) AS l
         |  FROM a2 JOIN embeddings e USING (vec_id)),
         |ct AS (SELECT cid, l, CAST(count(*) AS BIGINT) AS c FROM j GROUP BY 1, 2),
         |rk AS (SELECT cid, l, c,
         |    ROW_NUMBER() OVER (PARTITION BY cid ORDER BY c DESC, l ASC) AS rn,
         |    CAST(SUM(c) OVER (PARTITION BY cid) AS BIGINT) AS nm FROM ct)
         |SELECT CAST(cid AS BIGINT) AS cluster_id, nm AS n_members,
         |  l AS majority_label, c AS majority_n,
         |  CAST((c * 1000000) // nm AS BIGINT) AS purity_ppm
         |FROM rk WHERE rn = 1 ORDER BY cluster_id""".stripMargin,

    // RBO: two BM25 chains share base/stats; overlap enters at
    // max(rank) depth; weights are the X139 power folds.
    "q194_rbo" ->
      s"""WITH base AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM documents),
         |dld AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks FROM base),
         |stats AS (SELECT count(*) AS n, CAST(SUM(dl) AS DOUBLE)/count(*) AS avgdl FROM dld),
         |${bm25RankCte("a", Seq("join", "vector", "stream"))},
         |${bm25RankCte("b", Seq("join", "vector"))},
         |mm AS (SELECT greatest(ark.rnk, brk.rnk) AS m
         |  FROM ark JOIN brk USING (doc_id)
         |  WHERE ark.rnk <= 100 AND brk.rnk <= 100
         |    AND greatest(ark.rnk, brk.rnk) <= 50),
         |h AS (SELECT m, CAST(count(*) AS BIGINT) AS c FROM mm GROUP BY 1),
         |w AS (SELECT CAST(d AS BIGINT) AS d,
         |    list_reduce(list_prepend(CAST(1000000 AS BIGINT),
         |      list_transform(range(0, d - 1), i -> CAST(900000 AS BIGINT))),
         |      (a, x) -> (a * x) // 1000000) AS w
         |  FROM (SELECT unnest(range(1, 51)) AS d)),
         |cv AS (SELECT w.d, w.w, COALESCE(SUM(h.c), 0) AS ov
         |  FROM w LEFT JOIN h ON h.m <= w.d GROUP BY 1, 2),
         |t AS (SELECT d, w, ov, (ov * 1000000) // d AS agree FROM cv)
         |SELECT CAST(50 AS BIGINT) AS depth, CAST(900000 AS BIGINT) AS p_ppm,
         |  CAST(MAX(CASE WHEN d = 50 THEN ov END) AS BIGINT) AS overlap_at_depth,
         |  CAST(MAX(CASE WHEN d = 50 THEN agree END) AS BIGINT) AS agree_at_depth_ppm,
         |  CAST((SUM((w * agree) // 1000000) * (1000000 - 900000)) // 1000000 AS BIGINT) AS rbo_ppm
         |FROM t""".stripMargin,

    // Contamination spans: eval gram-hash set, q79's interval sweep,
    // coverage ppm.
    "q190_contamination_spans" ->
      s"""WITH tok AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM documents),
         |ev AS (SELECT DISTINCT ${dh("array_to_string(list_slice(toks, i, i + 4), ' ')")} AS g
         |  FROM (SELECT toks, unnest(range(1, len(toks) - 3)) AS i
         |        FROM tok WHERE doc_id % 10 = 0 AND len(toks) >= 5)),
         |win AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, i AS pos,
         |    ${dh("array_to_string(list_slice(toks, i, i + 4), ' ')")} AS h
         |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 3)) AS i
         |        FROM tok WHERE len(toks) >= 5)),
         |sweep AS (SELECT doc_id, n_tokens, pos,
         |    max(pos + 5) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
         |  FROM win WHERE h IN (SELECT g FROM ev)),
         |a AS (SELECT doc_id, any_value(n_tokens) AS n_tokens,
         |    CAST(count(*) AS BIGINT) AS n_hit_windows,
         |    CAST(SUM(greatest(0, pos + 5 - greatest(coalesce(prev_end, pos), pos))) AS BIGINT) AS covered_tokens
         |  FROM sweep GROUP BY doc_id)
         |SELECT doc_id, n_tokens, n_hit_windows, covered_tokens,
         |  CAST((covered_tokens * 1000000) // n_tokens AS BIGINT) AS coverage_ppm
         |FROM a ORDER BY doc_id""".stripMargin,

    // Tokenizer fit: the q78 BPE chain rolled to a pieces-per-word
    // histogram, occurrence-weighted.
    "q191_tokenizer_fit" ->
      s"""WITH RECURSIVE
         |$bpeChainCtes
         |SELECT CAST(len(syms) AS BIGINT) AS n_pieces,
         |  CAST(count(*) AS BIGINT) AS n_types,
         |  CAST(SUM(n) AS BIGINT) AS n_occurrences
         |FROM w3 GROUP BY 1 ORDER BY n_pieces""".stripMargin,

    // ECE/MCE: q181's floored per-bin gaps, occupancy-weighted.
    "q192_ece" ->
      s"""WITH $qualityLabeledCte,
         |b AS (SELECT least(9, (score_ppm * 10) // 1000000) AS bin, score_ppm, l FROM lb),
         |g AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
         |    CAST(SUM(score_ppm) AS HUGEINT) AS ss, CAST(SUM(l) AS BIGINT) AS sl
         |  FROM b GROUP BY 1),
         |c AS (SELECT bin, n,
         |    CAST((sl * 1000000) // n - ss // n AS BIGINT) AS gap FROM g)
         |SELECT CAST(SUM(n) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS n_bins,
         |  CAST(SUM(n * abs(gap)) // SUM(n) AS BIGINT) AS ece_ppm,
         |  CAST(MAX(abs(gap)) AS BIGINT) AS max_gap_ppm
         |FROM c""".stripMargin,

    // Brier: squared ppm gap, HUGEINT squares, floor div.
    "q187_brier" ->
      s"""WITH $qualityLabeledCte,
         |d AS (SELECT source, score_ppm - l * 1000000 AS d FROM lb)
         |SELECT source, CAST(count(*) AS BIGINT) AS n,
         |  CAST(SUM(CAST(d AS HUGEINT) * d) // (CAST(count(*) AS HUGEINT) * 1000000)
         |    AS BIGINT) AS brier_ppm
         |FROM d GROUP BY 1 ORDER BY source""".stripMargin,

    // Per-class PRF: q28's langid CASE, margins full-outer so one-
    // sided classes still report.
    "q188_per_class_prf" ->
      s"""WITH tok AS (SELECT doc_id, lang, list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM documents),
         |h AS (SELECT doc_id, lang,
         |  len(list_filter(toks, t -> list_contains(${stopList("de")}, t))) AS h_de,
         |  len(list_filter(toks, t -> list_contains(${stopList("en")}, t))) AS h_en,
         |  len(list_filter(toks, t -> list_contains(${stopList("es")}, t))) AS h_es,
         |  len(list_filter(toks, t -> list_contains(${stopList("fr")}, t))) AS h_fr
         | FROM tok),
         |p AS (SELECT lang, CASE
         |  WHEN h_de > 0 AND h_de >= h_en AND h_de >= h_es AND h_de >= h_fr THEN 'de'
         |  WHEN h_en > 0 AND h_en >= h_de AND h_en >= h_es AND h_en >= h_fr THEN 'en'
         |  WHEN h_es > 0 AND h_es >= h_de AND h_es >= h_en AND h_es >= h_fr THEN 'es'
         |  WHEN h_fr > 0 AND h_fr >= h_de AND h_fr >= h_en AND h_fr >= h_es THEN 'fr'
         |  ELSE 'und' END AS pred
         | FROM h),
         |ct AS (SELECT pred AS a, lang AS b, CAST(count(*) AS BIGINT) AS c FROM p GROUP BY 1, 2),
         |pm AS (SELECT a AS label, CAST(SUM(c) AS BIGINT) AS np FROM ct GROUP BY 1),
         |tm AS (SELECT b AS label, CAST(SUM(c) AS BIGINT) AS nt FROM ct GROUP BY 1),
         |dg AS (SELECT a AS label, c AS tp FROM ct WHERE a = b),
         |m AS (SELECT COALESCE(pm.label, tm.label) AS label,
         |    COALESCE(dg.tp, 0) AS tp,
         |    COALESCE(pm.np, 0) - COALESCE(dg.tp, 0) AS fp,
         |    COALESCE(tm.nt, 0) - COALESCE(dg.tp, 0) AS fn
         |  FROM pm FULL JOIN tm ON tm.label = pm.label
         |  LEFT JOIN dg ON dg.label = COALESCE(pm.label, tm.label))
         |SELECT label, tp, fp, fn,
         |  CAST(CASE WHEN tp + fp = 0 THEN 0 ELSE (tp * 1000000) // (tp + fp) END AS BIGINT) AS precision_ppm,
         |  CAST(CASE WHEN tp + fn = 0 THEN 0 ELSE (tp * 1000000) // (tp + fn) END AS BIGINT) AS recall_ppm,
         |  CAST(CASE WHEN 2 * tp + fp + fn = 0 THEN 0
         |       ELSE (2 * tp * 1000000) // (2 * tp + fp + fn) END AS BIGINT) AS f1_ppm
         |FROM m ORDER BY label""".stripMargin,

    // Robust z: q156's median/MAD walks on event values, joined back
    // to rows, sign-split tenths.
    "q189_robust_z" ->
      """WITH b AS (SELECT event_type AS g, event_id AS id,
        |    CAST(floor(value * 1000) AS BIGINT) AS v FROM events),
        |c AS (SELECT g, v, count(*) AS cnt FROM b GROUP BY 1, 2),
        |r AS (SELECT g, v, cnt,
        |    CAST(SUM(cnt) OVER (PARTITION BY g ORDER BY v) AS BIGINT) AS cm,
        |    CAST(SUM(cnt) OVER (PARTITION BY g) AS BIGINT) AS nn FROM c),
        |med AS (SELECT g, v AS median FROM r
        |  WHERE cm >= (nn * 50 + 99) // 100 AND cm - cnt < (nn * 50 + 99) // 100),
        |dv AS (SELECT c.g, med.median, abs(c.v - med.median) AS d,
        |    CAST(SUM(cnt) AS BIGINT) AS cnt
        |  FROM c JOIN med USING (g) GROUP BY 1, 2, 3),
        |r2 AS (SELECT g, median, d, cnt,
        |    CAST(SUM(cnt) OVER (PARTITION BY g ORDER BY d) AS BIGINT) AS cm,
        |    CAST(SUM(cnt) OVER (PARTITION BY g) AS BIGINT) AS nn FROM dv),
        |mad AS (SELECT g, d AS mad FROM r2
        |  WHERE cm >= (nn * 50 + 99) // 100 AND cm - cnt < (nn * 50 + 99) // 100)
        |SELECT b.g AS event_type, b.id, b.v, med.median, mad.mad,
        |  CAST(CASE WHEN mad.mad = 0 THEN 0
        |       WHEN b.v >= med.median THEN (10 * (b.v - med.median)) // mad.mad
        |       ELSE -((10 * (med.median - b.v)) // mad.mad) END AS BIGINT) AS z_tenths
        |FROM b JOIN med ON med.g = b.g JOIN mad ON mad.g = b.g
        |ORDER BY b.id""".stripMargin,

    // PII density: q44's salted corpus, same regexes, source rollup.
    "q184_pii_density" ->
      s"""WITH salted AS (SELECT doc_id, source, text
         |  || CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now' ELSE '' END
         |  || CASE WHEN doc_id % 4 = 0 THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' today' ELSE '' END AS text
         |  FROM documents),
         |g AS (SELECT source,
         |    CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT) AS nt,
         |    CAST(len(regexp_extract_all(text, '${graft.functions.TextAnalysis.EmailRe}')) AS BIGINT) AS e,
         |    CAST(len(regexp_extract_all(text, '${graft.functions.TextAnalysis.PhoneRe}')) AS BIGINT) AS p
         |  FROM salted)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(nt) AS BIGINT) AS n_tokens,
         |  CAST(SUM(e) AS BIGINT) AS n_emails, CAST(SUM(p) AS BIGINT) AS n_phones,
         |  CAST(SUM(CASE WHEN e + p > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii,
         |  CAST(CASE WHEN SUM(nt) = 0 THEN 0
         |       ELSE (CAST(SUM(e) + SUM(p) AS HUGEINT) * 1000000) // SUM(nt)
         |       END AS BIGINT) AS pii_per_mtok
         |FROM g GROUP BY 1 ORDER BY source""".stripMargin,

    // Trimmed mean: rank-clip on the compacted (group, value, count)
    // domain, boundary blocks contribute their inside portion.
    "q185_trimmed_mean" ->
      """WITH b AS (SELECT event_type AS g, CAST(floor(value * 1000) AS BIGINT) AS v FROM events),
        |c AS (SELECT g, v, CAST(count(*) AS BIGINT) AS cnt FROM b GROUP BY 1, 2),
        |w AS (SELECT g, v, cnt, SUM(cnt) OVER (PARTITION BY g ORDER BY v) AS cum,
        |    SUM(cnt) OVER (PARTITION BY g) AS n FROM c),
        |k AS (SELECT g, v, cnt, n,
        |    greatest(0, least(cum, n - (n * 10) // 100)
        |      - greatest(cum - cnt, (n * 10) // 100)) AS kept FROM w),
        |a AS (SELECT g, CAST(MAX(n) AS BIGINT) AS n_rows,
        |    CAST(SUM(kept) AS BIGINT) AS n_kept,
        |    CAST(SUM(v * kept) AS BIGINT) AS trimmed_sum FROM k GROUP BY 1)
        |SELECT g AS event_type, n_rows, n_kept, trimmed_sum,
        |  CAST(CASE WHEN n_kept = 0 THEN 0
        |       WHEN trimmed_sum >= 0 THEN trimmed_sum // n_kept
        |       ELSE -((-trimmed_sum) // n_kept) END AS BIGINT) AS trimmed_mean
        |FROM a ORDER BY event_type""".stripMargin,

    // Repeat runs: loop-salted corpus, lag change flags, run-id
    // cumsum, (len DESC, token ASC) argmax per doc.
    "q186_repeat_runs" ->
      """WITH salted AS (SELECT doc_id, text
        |  || CASE WHEN doc_id % 3 = 0 THEN repeat(' loop', CAST(doc_id % 6 + 2 AS INT)) ELSE '' END AS text
        |  FROM documents),
        |tk AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM salted),
        |po AS (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i FROM tk WHERE len(toks) >= 1),
        |pt AS (SELECT doc_id, i, toks[CAST(i AS INT)] AS tok FROM po),
        |ch AS (SELECT doc_id, i, tok,
        |    CASE WHEN lag(tok) OVER w IS NULL OR lag(tok) OVER w <> tok
        |         THEN 1 ELSE 0 END AS chg
        |  FROM pt WINDOW w AS (PARTITION BY doc_id ORDER BY i)),
        |rn AS (SELECT doc_id, tok,
        |    SUM(chg) OVER (PARTITION BY doc_id ORDER BY i) AS run FROM ch),
        |runs AS (SELECT doc_id, run, tok, CAST(count(*) AS BIGINT) AS len
        |  FROM rn GROUP BY 1, 2, 3),
        |rk AS (SELECT doc_id, len, tok,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY len DESC, tok ASC) AS rn,
        |    SUM(len) OVER (PARTITION BY doc_id) AS nt FROM runs)
        |SELECT doc_id, CAST(nt AS BIGINT) AS n_tokens, len AS max_run,
        |  tok AS run_token
        |FROM rk WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    // Group AUC: compacted-score doubled ranks, the Mann-Whitney
    // identity in HUGEINT, degenerate one-class groups read 0.
    "q180_auc" ->
      s"""WITH $qualityLabeledCte,
         |c AS (SELECT source, score_ppm AS s, CAST(count(*) AS BIGINT) AS c,
         |    CAST(SUM(l) AS BIGINT) AS p FROM lb GROUP BY 1, 2),
         |r AS (SELECT source, p, c,
         |    2 * SUM(c) OVER (PARTITION BY source ORDER BY s) - c + 1 AS r2 FROM c),
         |a AS (SELECT source, CAST(SUM(p) AS BIGINT) AS np,
         |    CAST(SUM(c - p) AS BIGINT) AS nn, SUM(p * r2) AS rp FROM r GROUP BY 1)
         |SELECT source, np AS n_pos, nn AS n_neg,
         |  CAST(CASE WHEN np = 0 OR nn = 0 THEN 0
         |       ELSE ((CAST(rp AS HUGEINT) - CAST(np AS HUGEINT) * (np + 1)) * 1000000)
         |         // (CAST(np AS HUGEINT) * nn * 2) END AS BIGINT) AS auc_ppm
         |FROM a ORDER BY source""".stripMargin,

    // Calibration: 10 equal ppm cells, claimed mean vs empirical rate.
    "q181_calibration" ->
      s"""WITH $qualityLabeledCte,
         |b AS (SELECT least(9, (score_ppm * 10) // 1000000) AS bin, score_ppm, l FROM lb),
         |g AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
         |    CAST(SUM(score_ppm) AS HUGEINT) AS ss, CAST(SUM(l) AS BIGINT) AS sl
         |  FROM b GROUP BY 1)
         |SELECT CAST(bin AS BIGINT) AS bin, n,
         |  CAST(ss // n AS BIGINT) AS mean_score_ppm,
         |  CAST((sl * 1000000) // n AS BIGINT) AS pos_rate_ppm,
         |  CAST((sl * 1000000) // n - ss // n AS BIGINT) AS gap_ppm
         |FROM g ORDER BY bin""".stripMargin,

    // Threshold sweep: descending cumulative over distinct scores.
    "q182_threshold_sweep" ->
      s"""WITH $qualityLabeledCte,
         |c AS (SELECT score_ppm AS s, CAST(count(*) AS BIGINT) AS c,
         |    CAST(SUM(l) AS BIGINT) AS p FROM lb GROUP BY 1),
         |w AS (SELECT s, SUM(p) OVER (ORDER BY s DESC) AS tp,
         |    SUM(c) OVER (ORDER BY s DESC) AS ct, SUM(p) OVER () AS np FROM c),
         |f AS (SELECT s AS threshold, CAST(tp AS BIGINT) AS tp,
         |    CAST(ct - tp AS BIGINT) AS fp, CAST(np - tp AS BIGINT) AS fn FROM w)
         |SELECT threshold, tp, fp, fn,
         |  CAST((tp * 1000000) // (tp + fp) AS BIGINT) AS precision_ppm,
         |  CAST(CASE WHEN tp + fn = 0 THEN 0
         |       ELSE (tp * 1000000) // (tp + fn) END AS BIGINT) AS recall_ppm,
         |  CAST(CASE WHEN 2 * tp + fp + fn = 0 THEN 0
         |       ELSE (2 * tp * 1000000) // (2 * tp + fp + fn) END AS BIGINT) AS f1_ppm
         |FROM f ORDER BY threshold""".stripMargin,

    // Kappa: q28's langid CASE as rater A, metadata lang as rater B;
    // exact-integer chance correction, sign-split.
    "q183_kappa" ->
      s"""WITH tok AS (SELECT doc_id, lang, list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM documents),
         |h AS (SELECT doc_id, lang,
         |  len(list_filter(toks, t -> list_contains(${stopList("de")}, t))) AS h_de,
         |  len(list_filter(toks, t -> list_contains(${stopList("en")}, t))) AS h_en,
         |  len(list_filter(toks, t -> list_contains(${stopList("es")}, t))) AS h_es,
         |  len(list_filter(toks, t -> list_contains(${stopList("fr")}, t))) AS h_fr
         | FROM tok),
         |p AS (SELECT lang, CASE
         |  WHEN h_de > 0 AND h_de >= h_en AND h_de >= h_es AND h_de >= h_fr THEN 'de'
         |  WHEN h_en > 0 AND h_en >= h_de AND h_en >= h_es AND h_en >= h_fr THEN 'en'
         |  WHEN h_es > 0 AND h_es >= h_de AND h_es >= h_en AND h_es >= h_fr THEN 'es'
         |  WHEN h_fr > 0 AND h_fr >= h_de AND h_fr >= h_en AND h_fr >= h_es THEN 'fr'
         |  ELSE 'und' END AS pred
         | FROM h),
         |ct AS (SELECT pred AS a, lang AS b, CAST(count(*) AS BIGINT) AS c FROM p GROUP BY 1, 2),
         |t AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
         |    CAST(SUM(CASE WHEN a = b THEN c ELSE 0 END) AS BIGINT) AS diag FROM ct),
         |ma AS (SELECT a, CAST(SUM(c) AS BIGINT) AS ra FROM ct GROUP BY 1),
         |mb AS (SELECT b, CAST(SUM(c) AS BIGINT) AS rb FROM ct GROUP BY 1),
         |pe AS (SELECT COALESCE(SUM(CAST(ra AS HUGEINT) * rb), 0) AS pe
         |  FROM ma JOIN mb ON mb.b = ma.a),
         |f AS (SELECT n, diag, pe, CAST(n AS HUGEINT) * diag - pe AS num,
         |    CAST(n AS HUGEINT) * n - pe AS den FROM t CROSS JOIN pe)
         |SELECT n AS n_items,
         |  CAST(CASE WHEN n = 0 THEN 0 ELSE (diag * 1000000) // n END AS BIGINT) AS po_ppm,
         |  CAST(CASE WHEN n = 0 THEN 0
         |       ELSE (pe * 1000000) // (CAST(n AS HUGEINT) * n) END AS BIGINT) AS pe_ppm,
         |  CAST(CASE WHEN den = 0 THEN 0
         |       WHEN num >= 0 THEN (num * 1000000) // den
         |       ELSE -(((-num) * 1000000) // den) END AS BIGINT) AS kappa_ppm
         |FROM f""".stripMargin,

    // Grade correlation: q56-compacted doubled ranks → B=1000 grades,
    // Pearson moments in HUGEINT, the same two-step floor division.
    "q175_spearman_grade" ->
      """WITH b AS (SELECT event_type AS g, CAST(floor(epoch(ts)) AS BIGINT) AS x,
        |    CAST(floor(value * 1000) AS BIGINT) AS y FROM events),
        |cx AS (SELECT g, x, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1, 2),
        |gx AS (SELECT g, x, (1000 * (2 * SUM(c) OVER (PARTITION BY g ORDER BY x) - c))
        |      // (2 * SUM(c) OVER (PARTITION BY g)) AS gx FROM cx),
        |cy AS (SELECT g, y, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1, 2),
        |gy AS (SELECT g, y, (1000 * (2 * SUM(c) OVER (PARTITION BY g ORDER BY y) - c))
        |      // (2 * SUM(c) OVER (PARTITION BY g)) AS gy FROM cy),
        |j AS (SELECT b.g, gx.gx, gy.gy FROM b
        |  JOIN gx ON gx.g = b.g AND gx.x = b.x
        |  JOIN gy ON gy.g = b.g AND gy.y = b.y),
        |m AS (SELECT g, CAST(count(*) AS BIGINT) AS n, SUM(gx) AS sx, SUM(gy) AS sy,
        |    SUM(gx * gy) AS sxy, SUM(gx * gx) AS sxx, SUM(gy * gy) AS syy
        |  FROM j GROUP BY 1),
        |d AS (SELECT g, n,
        |    CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS num,
        |    CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS dx,
        |    CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS dy FROM m)
        |SELECT g AS event_type, n AS n_points,
        |  CAST(CASE WHEN dx = 0 OR dy = 0 THEN 0
        |       WHEN num >= 0 THEN (((num * num) // dx) * 1000000) // dy
        |       ELSE -((((num * num) // dx) * 1000000) // dy) END AS BIGINT)
        |    AS spearman_r2_signed_ppm
        |FROM d ORDER BY event_type""".stripMargin,

    // Chunk-waste planner: length histogram × candidate lengths,
    // ceiling arithmetic, exact ppm ratios.
    "q176_chunk_waste" ->
      """WITH h AS (SELECT CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT) AS l,
        |    CAST(count(*) AS BIGINT) AS c FROM documents GROUP BY 1),
        |x AS (SELECT ml, l, c, (l + ml - 1) // ml AS ex,
        |    greatest(l - ml, 0) AS lost
        |  FROM h, (SELECT CAST(unnest([16, 32, 64, 128]) AS BIGINT) AS ml)),
        |a AS (SELECT ml AS max_len, CAST(SUM(c) AS BIGINT) AS n_docs,
        |    CAST(SUM(l * c) AS BIGINT) AS n_tokens,
        |    CAST(SUM(ex * c) AS BIGINT) AS chunk_examples,
        |    CAST(SUM((ex * ml - l) * c) AS BIGINT) AS chunk_pad_tokens,
        |    CAST(SUM(lost * c) AS BIGINT) AS trunc_lost_tokens
        |  FROM x GROUP BY 1)
        |SELECT max_len, n_docs, n_tokens, chunk_examples, chunk_pad_tokens,
        |  CAST(CASE WHEN chunk_examples = 0 THEN 0
        |       ELSE (CAST(chunk_pad_tokens AS HUGEINT) * 1000000)
        |         // (CAST(chunk_examples AS HUGEINT) * max_len) END AS BIGINT)
        |    AS chunk_waste_ppm,
        |  trunc_lost_tokens,
        |  CAST(CASE WHEN n_tokens = 0 THEN 0
        |       ELSE (CAST(trunc_lost_tokens AS HUGEINT) * 1000000) // n_tokens
        |       END AS BIGINT) AS trunc_lost_ppm
        |FROM a ORDER BY max_len""".stripMargin,

    // Anisotropy: ‖Σv‖² − Σ‖v‖² on 10³-quantized elements, the same
    // sign-split two-step floor division.
    "q177_anisotropy" ->
      """WITH q AS (SELECT list_transform(embedding,
        |      v -> CAST(floor(CAST(v AS DOUBLE) * 1000) AS BIGINT)) AS qv
        |  FROM embeddings),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(max(len(qv)) AS BIGINT) AS dims,
        |    CAST(SUM(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(qv, x -> x * x)), (a, b) -> a + b)) AS HUGEINT) AS tq
        |  FROM q),
        |p AS (SELECT i, SUM(qv[CAST(i AS INT)]) AS s
        |  FROM q, (SELECT unnest(range(1, 65)) AS i) GROUP BY 1),
        |sn AS (SELECT SUM(CAST(s AS HUGEINT) * s) AS snorm FROM p),
        |f AS (SELECT n, dims, tq, snorm, snorm - tq AS d FROM t, sn)
        |SELECT n AS n_vecs, dims,
        |  CAST(CASE WHEN n < 2 THEN 0
        |       WHEN d >= 0 THEN d // (CAST(n AS HUGEINT) * (n - 1))
        |       ELSE -((-d) // (CAST(n AS HUGEINT) * (n - 1))) END AS BIGINT)
        |    AS mean_pair_dot_q3,
        |  CAST(CASE WHEN n < 2 OR tq = 0 THEN 0
        |       WHEN d >= 0 THEN ((d * 1000000) // tq) // (n - 1)
        |       ELSE -(((-d) * 1000000 // tq) // (n - 1)) END AS BIGINT)
        |    AS anisotropy_ppm
        |FROM f""".stripMargin,

    // Burstiness: (token, doc) counts, zero-inclusive VMR via the
    // closed form (N·Σc² − t²)/(N·t), HUGEINT, top-50.
    "q178_burstiness" ->
      """WITH tok AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS t
        |  FROM documents),
        |pd AS (SELECT t, doc_id, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2),
        |nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        |m AS (SELECT t, CAST(count(*) AS BIGINT) AS n_docs_with,
        |    CAST(SUM(c) AS BIGINT) AS n_occ, CAST(SUM(c * c) AS BIGINT) AS sc2
        |  FROM pd GROUP BY 1)
        |SELECT t AS token, n_docs_with, n_occ,
        |  CAST(((CAST(nd.n AS HUGEINT) * sc2 - CAST(n_occ AS HUGEINT) * n_occ)
        |    * 1000000) // (CAST(nd.n AS HUGEINT) * n_occ) AS BIGINT) AS vmr_ppm
        |FROM m, nd WHERE n_occ >= 30
        |ORDER BY vmr_ppm DESC, token ASC LIMIT 50""".stripMargin,

    // Histogram-matched resample: per-bucket capped importance rate,
    // keep iff hash(text#id) mod 1e6 below it.
    "q179_match_resample" ->
      s"""WITH b AS (SELECT doc_id,
         |    ${dh("text || '#' || CAST(doc_id AS VARCHAR)")} AS h,
         |    CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT) // 10 AS bucket
         |  FROM documents),
         |sh AS (SELECT bucket, CAST(count(*) AS BIGINT) AS cs FROM b GROUP BY 1),
         |rh AS (SELECT CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT) // 10 AS bucket,
         |    CAST(count(*) AS BIGINT) AS cr
         |  FROM documents WHERE lang = 'en' GROUP BY 1),
         |tt AS (SELECT (SELECT SUM(cs) FROM sh) AS ns, (SELECT COALESCE(SUM(cr), 0) FROM rh) AS nr),
         |r AS (SELECT sh.bucket,
         |    CASE WHEN COALESCE(rh.cr, 0) = 0 OR tt.nr = 0 THEN 0
         |         ELSE least(1000000, (CAST(rh.cr AS HUGEINT) * tt.ns * 1000000)
         |           // (CAST(sh.cs AS HUGEINT) * tt.nr)) END AS accept_ppm
         |  FROM sh LEFT JOIN rh ON rh.bucket = sh.bucket CROSS JOIN tt)
         |SELECT b.doc_id, b.bucket, CAST(r.accept_ppm AS BIGINT) AS accept_ppm,
         |  CAST(CASE WHEN b.h % 1000000 < r.accept_ppm THEN 1 ELSE 0 END AS BIGINT) AS kept
         |FROM b JOIN r ON r.bucket = b.bucket ORDER BY b.doc_id""".stripMargin,

    // Token dropout: list_filter with the 1-based index shifted to
    // Spark's 0-based positions, same hash, keep iff >= 150.
    "q174_token_dropout" ->
      """WITH tok AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t FROM documents),
        |k AS (SELECT doc_id, t,
        |    list_filter(t, (x, i) ->
        |      ((doc_id % 1000003) * 8191 + (((i - 1) + 31) % 1000003) * 127 + 524287)
        |        % 1000003 % 1000 >= 150) AS kept
        |  FROM tok)
        |SELECT doc_id, CAST(1 AS BIGINT) AS variant,
        |  array_to_string(kept, ' ') AS text_aug,
        |  CAST(len(t) AS BIGINT) AS n_tokens,
        |  CAST(len(kept) AS BIGINT) AS n_kept
        |FROM k ORDER BY doc_id""".stripMargin,

    // k-anonymity: QI group sizes, below-k rollup.
    "q172_k_anonymity" ->
      """WITH g AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS sz
        |  FROM documents GROUP BY 1, 2)
        |SELECT CAST(10 AS BIGINT) AS k_threshold,
        |  CAST(count(*) AS BIGINT) AS n_groups,
        |  CAST(SUM(sz) AS BIGINT) AS n_rows,
        |  CAST(SUM(CASE WHEN sz < 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_groups_below,
        |  CAST(SUM(CASE WHEN sz < 10 THEN sz ELSE 0 END) AS BIGINT) AS n_rows_at_risk,
        |  CAST(MIN(sz) AS BIGINT) AS min_group_size
        |FROM g""".stripMargin,

    // Self-similarity: dense rank, hash partner skewed past self,
    // list_intersect Jaccard on distinct trigram lists.
    "q173_self_similarity" ->
      """WITH tok AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents),
        |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
        |    i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS sh
        |  FROM tok WHERE len(toks) >= 3),
        |ix AS (SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS idx, sh FROM sh),
        |nc AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ix),
        |pr AS (SELECT a.doc_id AS id_a, a.sh AS sa, a.idx AS ia,
        |    ((a.idx % 1000003) * 8191 + 524287) % 1000003 % (nc.n - 1) AS p
        |  FROM ix a, nc WHERE nc.n >= 2),
        |pp AS (SELECT id_a, sa, CASE WHEN p >= ia THEN p + 1 ELSE p END AS pidx FROM pr),
        |j AS (SELECT pp.id_a, b.doc_id AS id_b,
        |    CAST(len(pp.sa) AS BIGINT) AS n_a, CAST(len(b.sh) AS BIGINT) AS n_b,
        |    CAST(len(list_intersect(pp.sa, b.sh)) AS BIGINT) AS n_common
        |  FROM pp JOIN ix b ON b.idx = pp.pidx)
        |SELECT id_a, id_b, n_a, n_b, n_common,
        |  CAST(n_common * 1000000 // (n_a + n_b - n_common) AS BIGINT) AS jaccard_ppm
        |FROM j ORDER BY id_a""".stripMargin,

    // Domain markers: occurrence 2x2 per token, signed phi2 ppm in
    // HUGEINT, (|phi2| DESC, token ASC) top-40.
    "q171_domain_markers" ->
      """WITH tok AS (SELECT lang = 'en' AS t,
        |    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
        |  FROM documents),
        |c AS (SELECT token,
        |    CAST(SUM(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS n_target,
        |    CAST(SUM(CASE WHEN t THEN 0 ELSE 1 END) AS BIGINT) AS n_ref
        |  FROM tok GROUP BY 1),
        |tt AS (SELECT SUM(n_target) AS tt, SUM(n_ref) AS tr FROM c),
        |g AS (SELECT token, n_target, n_ref,
        |    n_target * (tr - n_ref) - n_ref * (tt - n_target) AS num,
        |    CAST(n_target + n_ref AS HUGEINT) * ((tt - n_target) + (tr - n_ref))
        |      * tt * tr AS den
        |  FROM c, tt WHERE n_target + n_ref >= 20),
        |s AS (SELECT token, n_target, n_ref,
        |    CAST(CASE WHEN den = 0 THEN 0
        |         WHEN num >= 0 THEN (CAST(num AS HUGEINT) * num * 1000000) // den
        |         ELSE -((CAST(-num AS HUGEINT) * (-num) * 1000000) // den)
        |         END AS BIGINT) AS phi2_signed_ppm
        |  FROM g)
        |SELECT token, n_target, n_ref, phi2_signed_ppm FROM s
        |ORDER BY abs(phi2_signed_ppm) DESC, token ASC LIMIT 40""".stripMargin,

    // K-fold: per-lang ROW_NUMBER over (text#id hash, id), fold =
    // (rn-1) % 5.
    "q170_kfold" ->
      s"""WITH h AS (SELECT lang, doc_id,
         |    ${dh("text || '#' || CAST(doc_id AS VARCHAR)")} AS hh
         |  FROM documents),
         |r AS (SELECT lang, doc_id,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY lang
         |      ORDER BY hh ASC, doc_id ASC) AS BIGINT) AS rnk FROM h)
         |SELECT lang, doc_id, rnk, CAST((rnk - 1) % 5 AS BIGINT) AS fold
         |FROM r ORDER BY lang, rnk""".stripMargin,

    // Temporal split: per-key first-test min, embargo window purges
    // late-train rows of that key only.
    "q169_temporal_split" ->
      """WITH b AS (SELECT user_id AS key, event_id AS id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events),
        |ft AS (SELECT key, MIN(sec) AS t0 FROM b WHERE sec >= 1706054400 GROUP BY 1)
        |SELECT b.key, b.id, b.sec,
        |  CASE WHEN b.sec >= 1706054400 THEN 'test'
        |       WHEN ft.t0 IS NOT NULL AND b.sec > ft.t0 - 86400 THEN 'purged'
        |       ELSE 'train' END AS split
        |FROM b LEFT JOIN ft USING (key) ORDER BY b.id""".stripMargin,

    // Negative edges: dense node index by ROW_NUMBER, hash-mod
    // candidates (2x over-gen), anti-join reals, per-src quota.
    "q168_negative_edges" ->
      """WITH e AS (SELECT DISTINCT l_suppkey * 2 AS src, l_partkey * 2 + 1 AS dst
        |  FROM lineitem WHERE l_suppkey % 10 = 0),
        |nd AS (SELECT node, CAST(ROW_NUMBER() OVER (ORDER BY node) - 1 AS BIGINT) AS cidx
        |  FROM (SELECT src AS node FROM e UNION SELECT dst FROM e)),
        |nc AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM nd),
        |dg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1),
        |gen AS (SELECT src, unnest(range(0, deg * 2)) AS k FROM dg),
        |cd AS (SELECT gen.src, gen.k,
        |    ((gen.src % 1000003) * 8191 + (gen.k % 1000003) * 127 + 524287)
        |      % 1000003 % nc.n_nodes AS cidx
        |  FROM gen, nc),
        |cand AS (SELECT cd.src, cd.k, nd.node AS neg_dst
        |  FROM cd JOIN nd USING (cidx)
        |  WHERE nd.node <> cd.src
        |    AND NOT EXISTS (SELECT 1 FROM e
        |      WHERE e.src = cd.src AND e.dst = nd.node)),
        |rk AS (SELECT src, neg_dst,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY src ORDER BY k ASC) AS BIGINT) AS rnk
        |  FROM cand)
        |SELECT rk.src, rk.neg_dst, rk.rnk
        |FROM rk JOIN dg USING (src) WHERE rk.rnk <= dg.deg
        |ORDER BY rk.src, rk.rnk""".stripMargin,

    // Data card: scalar aggregates + lang-Gini rational + compacted
    // median walk, all over the doubled corpus.
    "q167_data_card" ->
      s"""WITH corpus AS (
         |  SELECT doc_id, text, lang, source FROM documents
         |  UNION ALL SELECT doc_id + 10000, text, lang, source FROM documents),
         |b AS (SELECT lang, source, ${dh("text")} AS h,
         |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS ntok
         |  FROM corpus),
         |sc AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(ntok) AS BIGINT) AS n_tokens,
         |    CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         |    CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
         |    CAST(count(DISTINCT h) AS BIGINT) AS n_distinct FROM b),
         |gi AS (SELECT CAST(1000000 - (SUM(CAST(c AS HUGEINT) * c) * 1000000)
         |      // (CAST(SUM(c) AS HUGEINT) * SUM(c)) AS BIGINT) AS lang_gini_ppm
         |  FROM (SELECT lang, count(*) AS c FROM b GROUP BY 1)),
         |md AS (SELECT v AS median_tokens FROM (
         |  SELECT v, cnt,
         |    CAST(SUM(cnt) OVER (ORDER BY v) AS BIGINT) AS cm,
         |    CAST(SUM(cnt) OVER () AS BIGINT) AS nn
         |  FROM (SELECT ntok AS v, count(*) AS cnt FROM b GROUP BY 1))
         |  WHERE cm >= (nn * 50 + 99) // 100 AND cm - cnt < (nn * 50 + 99) // 100)
         |SELECT sc.n_docs, sc.n_tokens, sc.n_langs, sc.n_sources,
         |  CAST(sc.n_distinct * 1000000 // sc.n_docs AS BIGINT) AS distinct_text_ppm,
         |  md.median_tokens, gi.lang_gini_ppm
         |FROM sc, md, gi""".stripMargin,

    // LSH s-curve: the same truncating power folds via list_reduce —
    // r copies of s for s^r, b copies of (1e6 - p1) for the outer pow.
    "q166_lsh_scurve" ->
      """WITH cfg AS (SELECT * FROM (VALUES (2, 8), (4, 4), (8, 2), (16, 4)) c(b, r)),
        |g AS (SELECT b, r, s FROM cfg, (SELECT unnest(range(5, 105, 5)) AS s)),
        |p AS (SELECT b, r, s,
        |    list_reduce(list_transform(range(0, r), i -> CAST(s * 10000 AS BIGINT)),
        |      (a, x) -> (a * x) // 1000000) AS p1 FROM g)
        |SELECT CAST(b AS BIGINT) AS bands, CAST(r AS BIGINT) AS rows_per_band,
        |  CAST(s AS BIGINT) AS s_pct,
        |  CAST(1000000 - list_reduce(list_transform(range(0, b), i -> 1000000 - p1),
        |    (a, x) -> (a * x) // 1000000) AS BIGINT) AS collide_ppm
        |FROM p ORDER BY bands, rows_per_band, s_pct""".stripMargin,

    // ANN recall: q26's brute truth vs q27's LSH candidates, semi-join
    // hit counts, truth-sized denominators, zero-hit queries kept.
    "q165_ann_recall" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 20),
         |c AS (SELECT vec_id AS neighbor_id, embedding AS ce FROM embeddings),
         |sc AS (SELECT query_id, neighbor_id, ${cosSql("qe", "ce")} AS cosine
         |  FROM q, c WHERE neighbor_id <> query_id),
         |tr AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rnk FROM sc)
         |  WHERE rnk <= 3),
         |eb AS (SELECT vec_id, embedding, $signBucketSql AS bucket FROM embeddings),
         |qb AS (SELECT vec_id AS query_id, embedding AS qe, bucket FROM eb WHERE vec_id < 20),
         |sc2 AS (SELECT query_id, eb.vec_id AS neighbor_id, ${cosSql("qe", "eb.embedding")} AS cosine
         |  FROM qb JOIN eb USING (bucket) WHERE eb.vec_id <> query_id),
         |ap AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rnk FROM sc2)
         |  WHERE rnk <= 3),
         |ht AS (SELECT tr.query_id, CAST(count(*) AS BIGINT) AS n_hit
         |  FROM tr JOIN ap USING (query_id, neighbor_id) GROUP BY 1),
         |dn AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_truth FROM tr GROUP BY 1)
         |SELECT dn.query_id, dn.n_truth,
         |  CAST(COALESCE(ht.n_hit, 0) AS BIGINT) AS n_hit,
         |  CAST(COALESCE(ht.n_hit, 0) * 1000000 // dn.n_truth AS BIGINT) AS recall_ppm
         |FROM dn LEFT JOIN ht USING (query_id)
         |ORDER BY dn.query_id""".stripMargin,

    // Dedup impact: recursive clusters, survivor = min id, savings
    // rolled up by cluster size.
    "q164_dedup_impact" ->
      s"""WITH RECURSIVE $minhashCtes,
         |cand AS (SELECT id_a, id_b FROM est WHERE est_jaccard >= 0.75),
         |und AS (SELECT id_a AS a, id_b AS b FROM cand UNION SELECT id_b, id_a FROM cand),
         |reach(node, r) AS (
         |  SELECT a, a FROM (SELECT DISTINCT a FROM und)
         |  UNION
         |  SELECT u.b, r.r FROM reach r JOIN und u ON u.a = r.node),
         |lab AS (SELECT node, min(r) AS cluster_id FROM reach GROUP BY 1),
         |wt AS (SELECT doc_id AS node,
         |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS w
         |  FROM corpus),
         |cl AS (SELECT lab.cluster_id, CAST(count(*) AS BIGINT) AS k,
         |    CAST(SUM(wt.w) AS BIGINT) AS wsum,
         |    CAST(min(wt.node) AS BIGINT) AS surv
         |  FROM lab JOIN wt USING (node) GROUP BY 1),
         |sv AS (SELECT cl.cluster_id, cl.k, cl.wsum, wt.w AS surv_w
         |  FROM cl JOIN wt ON wt.node = cl.surv)
         |SELECT k AS cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
         |  CAST(SUM(k - 1) AS BIGINT) AS n_docs_removed,
         |  CAST(SUM(wsum - surv_w) AS BIGINT) AS tokens_removed
         |FROM sv GROUP BY 1 ORDER BY cluster_size""".stripMargin,

    // Source overlap: est >= 0.75 pairs; corpus ids map to sources by
    // base id (% 10000); unordered pairs via least/greatest.
    "q163_source_overlap" ->
      s"""WITH $minhashCtes,
         |cs AS (SELECT c.doc_id, d.source FROM corpus c
         |  JOIN documents d ON d.doc_id = c.doc_id % 10000),
         |pr AS (SELECT id_a, id_b FROM est WHERE est_jaccard >= 0.75)
         |SELECT least(a.source, b.source) AS src_a,
         |  greatest(a.source, b.source) AS src_b,
         |  CAST(count(*) AS BIGINT) AS n_pairs
         |FROM pr JOIN cs a ON a.doc_id = pr.id_a
         |JOIN cs b ON b.doc_id = pr.id_b
         |GROUP BY 1, 2 ORDER BY src_a, src_b""".stripMargin,

    // Signed R²: one moment aggregate, num²·1e6 // (dx·dy) in HUGEINT
    // with the sign factored out front.
    "q162_corr_r2" ->
      """WITH p AS (SELECT event_type,
        |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS x,
        |    CAST(floor(value) AS BIGINT) AS y FROM events),
        |s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(x*y) AS BIGINT) AS sxy, CAST(SUM(x*x) AS BIGINT) AS sxx,
        |    CAST(SUM(y*y) AS BIGINT) AS syy FROM p GROUP BY 1),
        |g AS (SELECT event_type, n,
        |    n*sxy - sx*sy AS num, n*sxx - sx*sx AS dx, n*syy - sy*sy AS dy FROM s)
        |SELECT event_type, n AS n_points,
        |  CAST(CASE WHEN dx = 0 OR dy = 0 THEN 0
        |       ELSE CAST(sign(num) AS BIGINT) *
        |         ((CAST(num AS HUGEINT) * num * 1000000) // (CAST(dx AS HUGEINT) * dy))
        |       END AS BIGINT) AS r2_signed_ppm
        |FROM g ORDER BY event_type""".stripMargin,

    // Tail vocab: ROW_NUMBER over (count DESC, token ASC) defines the
    // top-200 head; tail occurrences counted per source.
    "q161_tail_vocab" ->
      """WITH tok AS (SELECT source, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS t
        |  FROM documents),
        |st AS (SELECT source, t, CAST(count(*) AS BIGINT) AS m FROM tok GROUP BY 1, 2),
        |v AS (SELECT t, SUM(m) AS cnt FROM st GROUP BY 1),
        |hd AS (SELECT t FROM (SELECT t,
        |    ROW_NUMBER() OVER (ORDER BY cnt DESC, t ASC) AS r FROM v)
        |  WHERE r <= 200)
        |SELECT st.source, CAST(SUM(st.m) AS BIGINT) AS n_tokens,
        |  CAST(SUM(CASE WHEN hd.t IS NULL THEN st.m ELSE 0 END) AS BIGINT) AS n_tail,
        |  CAST(SUM(CASE WHEN hd.t IS NULL THEN st.m ELSE 0 END) * 1000000
        |    // SUM(st.m) AS BIGINT) AS tail_ppm
        |FROM st LEFT JOIN hd USING (t)
        |GROUP BY 1 ORDER BY st.source""".stripMargin,

    // Water-filling: ascending-availability prefix test (division-
    // free cross-multiply), level t = (B - S_j) // (G - j).
    "q160_water_fill" ->
      """WITH g AS (SELECT lang,
        |    CAST(SUM(len(list_filter(string_split(text, ' '), x -> x <> ''))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1),
        |i AS (SELECT lang, n_tokens,
        |    CAST(ROW_NUMBER() OVER (ORDER BY n_tokens ASC, lang ASC) AS BIGINT) AS i,
        |    CAST(SUM(n_tokens) OVER (ORDER BY n_tokens ASC, lang ASC) AS BIGINT) AS s,
        |    CAST(COUNT(*) OVER () AS BIGINT) AS gt FROM g),
        |j AS (SELECT max(CASE WHEN n_tokens * (gt - i) <= 10000 - s THEN i ELSE 0 END) AS j,
        |    max(CASE WHEN i = gt AND s <= 10000 THEN TRUE ELSE FALSE END) AS all_fit FROM i),
        |sj AS (SELECT COALESCE(MAX(CASE WHEN i.i <= j.j THEN i.s END), 0) AS sj FROM i, j)
        |SELECT i.lang, i.n_tokens,
        |  (j.all_fit OR i.i <= j.j) AS capped,
        |  CAST(CASE WHEN j.all_fit OR i.i <= j.j THEN i.n_tokens
        |       ELSE (10000 - sj.sj) // (i.gt - j.j) END AS BIGINT) AS alloc
        |FROM i, j, sj ORDER BY i.lang""".stripMargin,

    // MMR: k=5 greedy rounds unrolled as CTEs — each picks argmax of
    // 0.7*rel - 0.3*max(cos to prior picks), ties to min id.
    "q159_mmr_select" -> {
      val rounds = (2 to 5).map { i =>
        val prevList = (1 until i).map(j => s"p$j").mkString(", ")
        val notIn = (1 until i).map(j => s"SELECT vec_id FROM p$j")
          .mkString(" UNION ALL ")
        val sims = (1 until i).map(j => cosSql("r.embedding", s"p$j.embedding"))
        val maxsim = if (sims.size == 1) sims.head
          else s"greatest(${sims.mkString(", ")})"
        s"""p$i AS (SELECT r.vec_id, r.embedding, r.rel,
           |  0.7 * r.rel - 0.3 * ($maxsim) AS score
           |  FROM rel r, $prevList WHERE r.vec_id NOT IN ($notIn)
           |  ORDER BY score DESC, r.vec_id ASC LIMIT 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id > 0),
         |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |rel AS (SELECT c.vec_id, c.embedding, ${cosSql("c.embedding", "q.qe")} AS rel FROM c, q),
         |p1 AS (SELECT vec_id, embedding, rel, 0.7 * rel AS score
         |  FROM rel ORDER BY score DESC, vec_id ASC LIMIT 1),
         |$rounds,
         |u AS (SELECT 1 AS r, vec_id, rel, score FROM p1
         |  UNION ALL SELECT 2, vec_id, rel, score FROM p2
         |  UNION ALL SELECT 3, vec_id, rel, score FROM p3
         |  UNION ALL SELECT 4, vec_id, rel, score FROM p4
         |  UNION ALL SELECT 5, vec_id, rel, score FROM p5)
         |SELECT CAST(r AS BIGINT) AS rnk, vec_id, rel, score
         |FROM u ORDER BY rnk""".stripMargin
    },

    // Benford: first digit from the string rendering of the abs long,
    // ppm shares vs the nine inlined expectations.
    "q158_benford" ->
      """WITH vals AS (
        |  SELECT 'price' AS col_name, abs(CAST(floor(l_extendedprice) AS BIGINT)) AS v FROM lineitem
        |  UNION ALL
        |  SELECT 'qty', abs(CAST(floor(l_quantity) AS BIGINT)) FROM lineitem),
        |d AS (SELECT col_name,
        |    CAST(substring(CAST(v AS VARCHAR), 1, 1) AS BIGINT) AS digit
        |  FROM vals WHERE v > 0),
        |c AS (SELECT col_name, digit, CAST(count(*) AS BIGINT) AS n
        |  FROM d GROUP BY 1, 2),
        |t AS (SELECT col_name, CAST(SUM(n) AS BIGINT) AS tot FROM c GROUP BY 1),
        |b AS (SELECT * FROM (VALUES (1, 301030), (2, 176091), (3, 124939),
        |    (4, 96910), (5, 79181), (6, 66947), (7, 57992), (8, 51153),
        |    (9, 45757)) v(digit, benford_ppm))
        |SELECT c.col_name, c.digit, c.n,
        |  CAST(c.n * 1000000 // t.tot AS BIGINT) AS share_ppm,
        |  CAST(b.benford_ppm AS BIGINT) AS benford_ppm,
        |  CAST(abs(c.n * 1000000 // t.tot - b.benford_ppm) AS BIGINT) AS dev_ppm
        |FROM c JOIN t USING (col_name) JOIN b USING (digit)
        |ORDER BY col_name, digit""".stripMargin,

    // Type sniff: same staged frame, anchored regexp_matches counts,
    // the ordered 95% verdict chain.
    "q157_type_sniff" ->
      """WITH src AS (SELECT
        |    CAST(l_orderkey AS VARCHAR) AS c_int,
        |    CAST(l_orderkey AS VARCHAR) || ',' ||
        |      lpad(CAST(l_linenumber AS VARCHAR), 2, '0') AS c_dec,
        |    strftime(l_shipdate, '%Y-%m-%d') AS c_date,
        |    l_returnflag AS c_text,
        |    CASE WHEN l_linenumber % 2 = 0 THEN 'true' ELSE 'false' END AS c_bool,
        |    CASE WHEN l_orderkey % 20 = 0 THEN 'n/a'
        |         ELSE CAST(l_partkey AS VARCHAR) END AS c_mixed
        |  FROM lineitem),
        |u AS (SELECT 'c_int' AS col_name, trim(c_int) AS v FROM src
        |  UNION ALL SELECT 'c_dec', trim(c_dec) FROM src
        |  UNION ALL SELECT 'c_date', trim(c_date) FROM src
        |  UNION ALL SELECT 'c_text', trim(c_text) FROM src
        |  UNION ALL SELECT 'c_bool', trim(c_bool) FROM src
        |  UNION ALL SELECT 'c_mixed', trim(c_mixed) FROM src),
        |a AS (SELECT col_name, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(CASE WHEN v IS NULL OR v = '' THEN 1 ELSE 0 END) AS BIGINT) AS n_blank,
        |  CAST(SUM(CASE WHEN regexp_matches(v, '^[+-]?[0-9]+$') THEN 1 ELSE 0 END) AS BIGINT) AS n_int,
        |  CAST(SUM(CASE WHEN regexp_matches(v, '^[+-]?[0-9]+[.,][0-9]+$') THEN 1 ELSE 0 END) AS BIGINT) AS n_decimal,
        |  CAST(SUM(CASE WHEN regexp_matches(v, '^[0-9]{4}-[0-9]{2}-[0-9]{2}$') THEN 1 ELSE 0 END) AS BIGINT) AS n_date_iso,
        |  CAST(SUM(CASE WHEN regexp_matches(v, '^[0-9]{2}/[0-9]{2}/[0-9]{4}$') THEN 1 ELSE 0 END) AS BIGINT) AS n_date_br,
        |  CAST(SUM(CASE WHEN lower(v) IN ('true','false','t','f','yes','no') THEN 1 ELSE 0 END) AS BIGINT) AS n_bool
        |  FROM u GROUP BY 1)
        |SELECT col_name, n_rows, n_blank, n_int, n_decimal, n_date_iso,
        |  n_date_br, n_bool,
        |  CASE WHEN n_rows - n_blank = 0 THEN 'empty'
        |       WHEN n_int * 100 >= (n_rows - n_blank) * 95 THEN 'int'
        |       WHEN (n_int + n_decimal) * 100 >= (n_rows - n_blank) * 95 THEN 'decimal'
        |       WHEN n_date_iso * 100 >= (n_rows - n_blank) * 95 THEN 'date_iso'
        |       WHEN n_date_br * 100 >= (n_rows - n_blank) * 95 THEN 'date_br'
        |       WHEN n_bool * 100 >= (n_rows - n_blank) * 95 THEN 'bool'
        |       ELSE 'string' END AS verdict
        |FROM a ORDER BY col_name""".stripMargin,

    // MAD outliers: two weighted-median rank walks over compacted
    // counts, fence 10·d > k·mad, k = 30 tenths.
    "q156_mad_outliers" ->
      """WITH c AS (SELECT source, n_chars AS v, count(*) AS cnt
        |  FROM documents GROUP BY 1, 2),
        |r AS (SELECT source, v, cnt,
        |    CAST(SUM(cnt) OVER (PARTITION BY source ORDER BY v) AS BIGINT) AS cm,
        |    CAST(SUM(cnt) OVER (PARTITION BY source) AS BIGINT) AS nn FROM c),
        |med AS (SELECT source, v AS median FROM r
        |  WHERE cm >= (nn * 50 + 99) // 100 AND cm - cnt < (nn * 50 + 99) // 100),
        |dv AS (SELECT c.source, med.median, abs(c.v - med.median) AS d,
        |    CAST(SUM(cnt) AS BIGINT) AS cnt
        |  FROM c JOIN med USING (source) GROUP BY 1, 2, 3),
        |r2 AS (SELECT source, median, d, cnt,
        |    CAST(SUM(cnt) OVER (PARTITION BY source ORDER BY d) AS BIGINT) AS cm,
        |    CAST(SUM(cnt) OVER (PARTITION BY source) AS BIGINT) AS nn FROM dv),
        |mad AS (SELECT source, d AS mad FROM r2
        |  WHERE cm >= (nn * 50 + 99) // 100 AND cm - cnt < (nn * 50 + 99) // 100)
        |SELECT dv.source, dv.median, mad.mad,
        |  CAST(SUM(dv.cnt) AS BIGINT) AS n_rows,
        |  CAST(SUM(CASE WHEN dv.d * 10 > 30 * mad.mad THEN dv.cnt ELSE 0 END) AS BIGINT) AS n_out
        |FROM dv JOIN mad USING (source)
        |GROUP BY 1, 2, 3 ORDER BY dv.source""".stripMargin,

    // ARI: contingency cells, margin binomial T-sums in HUGEINT, the
    // doubled num2/den2 rational, sign-split // to ppm.
    "q155_ari" ->
      """WITH ct AS (SELECT lang AS la, source AS lb, count(*) AS nij
        |  FROM documents GROUP BY 1, 2),
        |cell AS (SELECT SUM(CAST(nij AS HUGEINT) * (nij - 1)) AS tij,
        |    SUM(nij) AS n FROM ct),
        |ma AS (SELECT SUM(CAST(ai AS HUGEINT) * (ai - 1)) AS ta
        |  FROM (SELECT SUM(nij) AS ai FROM ct GROUP BY la)),
        |mb AS (SELECT SUM(CAST(bj AS HUGEINT) * (bj - 1)) AS tb
        |  FROM (SELECT SUM(nij) AS bj FROM ct GROUP BY lb)),
        |f AS (SELECT n, tij, ta, tb, CAST(n AS HUGEINT) * (n - 1) AS tn
        |  FROM cell, ma, mb),
        |g AS (SELECT n, tij, ta, tb,
        |    2 * (tn * tij - ta * tb) AS num2,
        |    tn * (ta + tb) - 2 * ta * tb AS den2 FROM f)
        |SELECT CAST(n AS BIGINT) AS n,
        |  CAST(tij // 2 AS BIGINT) AS sum_comb_ab,
        |  CAST(ta // 2 AS BIGINT) AS sum_comb_a,
        |  CAST(tb // 2 AS BIGINT) AS sum_comb_b,
        |  CAST(CASE WHEN den2 = 0 THEN 1000000
        |       WHEN num2 >= 0 THEN (num2 * 1000000) // den2
        |       ELSE -(((-num2) * 1000000) // den2) END AS BIGINT) AS ari_ppm
        |FROM g""".stripMargin,

    // Perplexity buckets: the q51 score CTEs + per-lang ROW_NUMBER
    // over (score DESC, id ASC), thirds by 3*(rnk-1) // n.
    "q154_perplexity_buckets" ->
      s"""WITH tok AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM documents),
         |occ AS (SELECT doc_id, ${dh("toks[i]")} AS h1, ${dh("toks[i] || ' ' || toks[i+1]")} AS h2
         |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM tok WHERE len(toks) >= 2)),
         |mm AS (SELECT doc_id, h1, h2, count(*) AS cnt FROM occ GROUP BY 1, 2, 3),
         |c1 AS (SELECT h1, CAST(SUM(cnt) AS BIGINT) AS c1 FROM mm GROUP BY 1),
         |c2 AS (SELECT h1, h2, CAST(SUM(cnt) AS BIGINT) AS c2 FROM mm GROUP BY 1, 2),
         |sc AS (SELECT doc_id,
         |    CAST(SUM(cnt * (c2 * 1000000 // c1)) // SUM(cnt) AS BIGINT) AS mean_p_q
         |  FROM mm JOIN c2 USING (h1, h2) JOIN c1 USING (h1) GROUP BY doc_id),
         |rk AS (SELECT d.lang, sc.doc_id, sc.mean_p_q,
         |    ROW_NUMBER() OVER (PARTITION BY d.lang
         |      ORDER BY sc.mean_p_q DESC, sc.doc_id ASC) AS rnk,
         |    COUNT(*) OVER (PARTITION BY d.lang) AS n
         |  FROM sc JOIN documents d USING (doc_id))
         |SELECT lang, doc_id, mean_p_q, CAST(rnk AS BIGINT) AS rnk,
         |  CASE (3 * (rnk - 1)) // n WHEN 0 THEN 'head'
         |       WHEN 1 THEN 'middle' ELSE 'tail' END AS bucket
         |FROM rk ORDER BY lang, rnk""".stripMargin,

    // Bib coupling: distinct edges, fan-in ≤ 40 parts only, supplier
    // pairs per shared part, support ≥ 3.
    "q153_bib_coupling" ->
      """WITH sp AS (SELECT DISTINCT l_partkey AS k, l_suppkey AS v FROM lineitem),
        |ok AS (SELECT k, v FROM sp WHERE k IN
        |  (SELECT k FROM sp GROUP BY k HAVING count(*) <= 40))
        |SELECT x.v AS id_a, y.v AS id_b, CAST(count(*) AS BIGINT) AS n_common
        |FROM ok x JOIN ok y ON x.k = y.k AND x.v < y.v
        |GROUP BY 1, 2 HAVING count(*) >= 3
        |ORDER BY id_a, id_b""".stripMargin,

    // Silhouette: 1e3-quantized components, truncated centroid means,
    // squared distances, sign-split ppm ratio and per-label mean.
    "q152_silhouette" ->
      """WITH x AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
        |    list_transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 1000) AS BIGINT)) AS xq
        |  FROM embeddings),
        |st AS (SELECT label, i AS pos, SUM(xq[i]) AS s, COUNT(*) AS n
        |  FROM x, range(1, 65) r(i) GROUP BY 1, 2),
        |ct AS (SELECT label AS clabel, pos,
        |    CASE WHEN s >= 0 THEN s // n ELSE -((-s) // n) END AS cq FROM st),
        |d2 AS (SELECT x.vec_id, x.label, ct.clabel,
        |    SUM((xq[pos] - cq) * (xq[pos] - cq)) AS d2
        |  FROM x CROSS JOIN ct GROUP BY 1, 2, 3),
        |ab AS (SELECT vec_id, label,
        |    MIN(CASE WHEN clabel = label THEN d2 END) AS a,
        |    MIN(CASE WHEN clabel <> label THEN d2 END) AS b
        |  FROM d2 GROUP BY 1, 2),
        |sp AS (SELECT label,
        |    CASE WHEN b IS NULL OR greatest(a, b) = 0 THEN 0
        |         WHEN b >= a THEN ((b - a) * 1000000) // greatest(a, b)
        |         ELSE -(((a - b) * 1000000) // greatest(a, b)) END AS sp
        |  FROM ab)
        |SELECT label, COUNT(*) AS n,
        |  CAST(CASE WHEN SUM(sp) >= 0 THEN SUM(sp) // COUNT(*)
        |       ELSE -((-SUM(sp)) // COUNT(*)) END AS BIGINT) AS mean_sil_ppm
        |FROM sp GROUP BY label ORDER BY label""".stripMargin,

    // Leakage split: q36's recursive clusters; singletons group as
    // themselves; every member takes the REP's (text#id) hash bucket.
    "q151_leakage_split" ->
      s"""WITH RECURSIVE $minhashCtes,
         |cand AS (SELECT id_a, id_b FROM est WHERE est_jaccard >= 0.75),
         |und AS (SELECT id_a AS a, id_b AS b FROM cand UNION SELECT id_b, id_a FROM cand),
         |reach(node, r) AS (
         |  SELECT a, a FROM (SELECT DISTINCT a FROM und)
         |  UNION
         |  SELECT u.b, r.r FROM reach r JOIN und u ON u.a = r.node),
         |lab AS (SELECT node, min(r) AS cluster_id FROM reach GROUP BY 1),
         |g AS (SELECT c.doc_id, c.text, coalesce(l.cluster_id, c.doc_id) AS group_id
         |  FROM corpus c LEFT JOIN lab l ON l.node = c.doc_id),
         |rep AS (SELECT g.group_id,
         |    ${dh("g.text || '#' || CAST(g.group_id AS VARCHAR)")} % 100 AS bucket
         |  FROM g WHERE g.doc_id = g.group_id)
         |SELECT g.doc_id, CAST(g.group_id AS BIGINT) AS group_id,
         |  CAST(rep.bucket AS BIGINT) AS bucket,
         |  CASE WHEN rep.bucket < 80 THEN 'train'
         |       WHEN rep.bucket < 90 THEN 'val' ELSE 'test' END AS split
         |FROM g JOIN rep USING (group_id)
         |ORDER BY g.doc_id""".stripMargin,

    // DSIR relevance: hashed-token occurrence counts fork into the
    // rate model (target rate − reference rate, ppm) and the per-doc
    // occurrence-weighted mean; sign-split // mirrors Spark's DIV.
    "q150_domain_relevance" ->
      s"""WITH tok AS (SELECT doc_id, lang = 'en' AS t,
         |    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
         |  FROM documents),
         |occ AS (SELECT doc_id, t, ${dh("w")} AS h, count(*) AS m
         |  FROM tok GROUP BY 1, 2, 3),
         |r AS (SELECT h, SUM(CASE WHEN t THEN m ELSE 0 END) AS ct, SUM(m) AS cr
         |  FROM occ GROUP BY 1),
         |tt AS (SELECT SUM(ct) AS tt, SUM(cr) AS tr FROM r),
         |wt AS (SELECT h, (ct * 1000000 // tt) - (cr * 1000000 // tr) AS w
         |  FROM r, tt)
         |SELECT doc_id, CAST(SUM(m) AS BIGINT) AS n_tokens,
         |  CAST(CASE WHEN SUM(m * w) >= 0 THEN SUM(m * w) // SUM(m)
         |       ELSE -((-SUM(m * w)) // SUM(m)) END AS BIGINT) AS relevance_ppm
         |FROM occ JOIN wt USING (h)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Gini: per-column value counts, 1e6 - sum(cnt^2)*1e6 // n^2.
    "q149_gini_diversity" ->
      """WITH u AS (SELECT 'lang' AS col_name, CAST(lang AS VARCHAR) AS v FROM documents
        |  UNION ALL SELECT 'source', CAST(source AS VARCHAR) FROM documents),
        |c AS (SELECT col_name, v, CAST(count(*) AS BIGINT) AS cnt FROM u GROUP BY 1, 2)
        |SELECT col_name, CAST(SUM(cnt) AS BIGINT) AS n_rows,
        |  CAST(count(*) AS BIGINT) AS n_values,
        |  CAST(1000000 - (SUM(CAST(cnt AS HUGEINT) * cnt) * 1000000)
        |    // (CAST(SUM(cnt) AS HUGEINT) * SUM(cnt)) AS BIGINT) AS gini_ppm
        |FROM c GROUP BY col_name ORDER BY col_name""".stripMargin,

    // Hard negatives: plain-corpus LSH pair set (2 bands, cap 10000)
    // at cosine >= 0.99, anti-joined off the brute-force ranking.
    "q148_hard_negatives" ->
      s"""WITH bk AS (SELECT vec_id, embedding, b AS band,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(0, 8), i ->
         |    CASE WHEN embedding[b*8+i+1] > 0 THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END)),
         |    (a, x) -> a + x) AS bucket
         |  FROM embeddings, range(0, 2) t(b)),
         |ok AS (SELECT bk.vec_id, bk.embedding, bk.band, bk.bucket FROM bk
         |  JOIN (SELECT band, bucket, count(*) AS n FROM bk GROUP BY 1, 2) c
         |  USING (band, bucket) WHERE c.n <= 10000),
         |p0 AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b, a.embedding AS va, b.embedding AS vb
         |  FROM ok a JOIN ok b ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
         |dup AS (SELECT id_a, id_b FROM p0 WHERE ${cosSql("va", "vb")} >= 0.99),
         |dk AS (SELECT id_a AS query_id, id_b AS neighbor_id FROM dup
         |  UNION ALL SELECT id_b, id_a FROM dup),
         |q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 20),
         |sc AS (SELECT q.query_id, e.vec_id AS neighbor_id, ${cosSql("q.qe", "e.embedding")} AS cosine
         |  FROM q, embeddings e WHERE e.vec_id <> q.query_id
         |    AND NOT EXISTS (SELECT 1 FROM dk
         |      WHERE dk.query_id = q.query_id AND dk.neighbor_id = e.vec_id)),
         |rk AS (SELECT query_id, neighbor_id, cosine,
         |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rnk FROM sc)
         |SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rnk, cosine
         |FROM rk WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin,

    // Best survivor: q36's recursive clusters + the q85 ppm score,
    // survivor by (score DESC, id ASC).
    "q147_best_survivor" -> {
      val allStop = TextFeatures.stopwords.values.flatten.toSeq.distinct
        .map(w => s"'$w'").mkString("[", ",", "]")
      s"""WITH RECURSIVE $minhashCtes,
         |cand AS (SELECT id_a, id_b FROM est WHERE est_jaccard >= 0.75),
         |und AS (SELECT id_a AS a, id_b AS b FROM cand UNION SELECT id_b, id_a FROM cand),
         |reach(node, r) AS (
         |  SELECT a, a FROM (SELECT DISTINCT a FROM und)
         |  UNION
         |  SELECT u.b, r.r FROM reach r JOIN und u ON u.a = r.node),
         |lab AS (SELECT node, CAST(min(r) AS BIGINT) AS cluster_id FROM reach GROUP BY 1),
         |sc AS (SELECT doc_id,
         |    ((length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1000000 // length(text))
         |     + (len(list_filter(toks, t -> list_contains($allStop, t))) * 1000000 // len(toks))) // 2
         |    AS score_ppm
         |  FROM (SELECT doc_id, text, list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM corpus)
         |  WHERE len(toks) >= 1 AND length(text) >= 1),
         |surv AS (SELECT cluster_id, node AS survivor_id, score_ppm AS survivor_score_ppm
         |  FROM (SELECT lab.cluster_id, lab.node, sc.score_ppm,
         |      ROW_NUMBER() OVER (PARTITION BY lab.cluster_id
         |        ORDER BY sc.score_ppm DESC, lab.node ASC) AS rn
         |    FROM lab JOIN sc ON sc.doc_id = lab.node) WHERE rn = 1),
         |cnt AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members FROM lab GROUP BY 1)
         |SELECT cnt.cluster_id, surv.survivor_id,
         |  CAST(surv.survivor_score_ppm AS BIGINT) AS survivor_score_ppm, cnt.n_members
         |FROM cnt JOIN surv USING (cluster_id) ORDER BY cluster_id""".stripMargin
    },

    // Centroid sims: per-(label,pos) 1e3-quantized component sums,
    // pairwise dot by pos join, norms joined back.
    "q146_centroid_sims" ->
      """WITH q AS (SELECT label, i AS pos,
        |    CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT)) AS BIGINT) AS s
        |  FROM embeddings, range(1, 65) r(i) GROUP BY 1, 2),
        |n2 AS (SELECT label, CAST(SUM(s * s) AS BIGINT) AS n2 FROM q GROUP BY 1),
        |d AS (SELECT a.label AS g_a, b.label AS g_b, CAST(SUM(a.s * b.s) AS BIGINT) AS dot
        |  FROM q a JOIN q b ON a.pos = b.pos AND a.label < b.label GROUP BY 1, 2)
        |SELECT d.g_a, d.g_b, d.dot, na.n2 AS n2_a, nb.n2 AS n2_b
        |FROM d JOIN n2 na ON na.label = d.g_a JOIN n2 nb ON nb.label = d.g_b
        |ORDER BY g_a, g_b""".stripMargin,

    // Weighted rank: parallel edges collapse to counts, contribution
    // (r*w) // sw, same unrolled 3-iteration arithmetic as q63.
    "q145_pagerank_weighted" -> {
      def it(prev: String): String =
        s"""(SELECT nodes.node,
           |    (SELECT (15 * (1000000000 // n)) // 100 FROM n) + (85 * COALESCE(c.s, 0)) // 100 AS r
           |  FROM nodes LEFT JOIN (
           |    SELECT e.dst AS node, CAST(SUM((p.r * e.w) // sw.sw) AS BIGINT) AS s
           |    FROM $prev p JOIN e ON p.node = e.src JOIN sw ON e.src = sw.src GROUP BY 1) c USING (node))""".stripMargin
      s"""WITH e AS (SELECT src, dst, w FROM (
         |    SELECT l_suppkey * 2 AS src, l_partkey * 2 + 1 AS dst,
         |      CAST(COUNT(*) AS BIGINT) AS w
         |    FROM lineitem GROUP BY 1, 2) WHERE w > 0),
         |nodes AS (SELECT DISTINCT node FROM (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
         |n AS (SELECT COUNT(*) AS n FROM nodes),
         |sw AS (SELECT src, CAST(SUM(w) AS BIGINT) AS sw FROM e GROUP BY 1),
         |r0 AS (SELECT node, CAST((SELECT 1000000000 // n FROM n) AS BIGINT) AS r FROM nodes),
         |i1 AS ${it("r0")},
         |i2 AS ${it("i1")},
         |i3 AS ${it("i2")}
         |SELECT node, CAST(r AS BIGINT) AS rank_q FROM i3 ORDER BY node""".stripMargin
    },

    // ADC: q143's code CTE + a query distance table quantized at 1e9
    // BEFORE summing, so ranks are merge-order exact.
    "q144_pq_adc_knn" ->
      """WITH cb AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS code, embedding AS ce
        |  FROM embeddings WHERE vec_id < 16),
        |d AS (SELECT e.vec_id, s.sub, cb.code,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, 9), i ->
        |      (CAST(e.embedding[s.sub*8 + i] AS DOUBLE) - CAST(cb.ce[s.sub*8 + i] AS DOUBLE))
        |      * (CAST(e.embedding[s.sub*8 + i] AS DOUBLE) - CAST(cb.ce[s.sub*8 + i] AS DOUBLE)))),
        |      (a, x) -> a + x) AS d2
        |  FROM embeddings e, range(0, 8) s(sub), cb),
        |codes AS (SELECT vec_id AS neighbor_id, sub, code FROM (
        |  SELECT vec_id, sub, code,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d2 ASC, code ASC) AS rn FROM d)
        |  WHERE rn = 1),
        |dt AS (SELECT vec_id AS query_id, sub, code,
        |    CAST(floor(d2 * 1000000000) AS BIGINT) AS dq
        |  FROM d WHERE vec_id < 20),
        |adc AS (SELECT dt.query_id, c.neighbor_id, CAST(SUM(dt.dq) AS BIGINT) AS dist_q
        |  FROM codes c JOIN dt USING (sub, code)
        |  WHERE c.neighbor_id <> dt.query_id GROUP BY 1, 2),
        |rk AS (SELECT query_id, neighbor_id, dist_q,
        |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dist_q ASC, neighbor_id ASC) AS rnk FROM adc)
        |SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rnk, dist_q
        |FROM rk WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin,

    // Multi-probe: query buckets XOR {0, 1<<i}, distinct pairs before
    // the rank, vectors re-joined for the cosine.
    "q141_knn_multiprobe" ->
      s"""WITH e AS (SELECT vec_id, embedding, $signBucketSql AS bucket FROM embeddings),
         |q0 AS (SELECT vec_id AS query_id, embedding AS qe, bucket FROM e WHERE vec_id < 20),
         |q AS (SELECT query_id, xor(bucket, m) AS bucket
         |  FROM q0, unnest([0,1,2,4,8,16,32,64,128]) t(m)),
         |sc AS (SELECT DISTINCT query_id, e.vec_id AS neighbor_id
         |  FROM q JOIN e USING (bucket) WHERE e.vec_id <> query_id),
         |cand AS (SELECT sc.query_id, sc.neighbor_id,
         |    ${cosSql("q0.qe", "e.embedding")} AS cosine
         |  FROM sc JOIN q0 USING (query_id) JOIN e ON e.vec_id = sc.neighbor_id),
         |rk AS (SELECT query_id, neighbor_id, cosine,
         |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rnk FROM cand)
         |SELECT query_id, neighbor_id, rnk, cosine FROM rk WHERE rnk <= 3
         |ORDER BY query_id, rnk""".stripMargin,

    // Join size: exact sum of squared key counts vs the count-min
    // inner-product minimum over rows; HUGEINT products.
    "q142_join_size_estimate" ->
      s"""WITH h AS (SELECT ${dh("CAST(l_partkey AS VARCHAR)")} AS hh FROM lineitem),
         |cells AS (SELECT j, ((2*j+3)*hh + (5*j+7)) % 1000000007 % 512 AS cell,
         |    CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM h, range(0, 3) r(j) GROUP BY 1, 2),
         |est AS (SELECT MIN(ip) AS cm_est FROM (
         |  SELECT j, SUM(CAST(cnt AS HUGEINT) * cnt) AS ip FROM cells GROUP BY j)),
         |ex AS (SELECT SUM(CAST(c AS HUGEINT) * c) AS exact FROM (
         |  SELECT COUNT(*) AS c FROM lineitem GROUP BY l_partkey))
         |SELECT CAST(ex.exact AS BIGINT) AS exact, CAST(est.cm_est AS BIGINT) AS cm_est,
         |  CASE WHEN ex.exact > 0 THEN
         |    CAST(((est.cm_est - ex.exact) * 1000000) // ex.exact AS BIGINT) END AS err_ppm
         |FROM ex, est""".stripMargin,

    // Decay: (key, bucket) counts, one-row max, halving fold.
    "q140_decay_activity" ->
      """WITH c AS (SELECT user_id AS key, epoch_us(ts) // 21600000000 AS bucket,
        |    CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY 1, 2),
        |t AS (SELECT MAX(bucket) AS top FROM c)
        |SELECT key, CAST(SUM(cnt) AS BIGINT) AS n_events,
        |  CAST(count(*) AS BIGINT) AS n_buckets,
        |  CAST(SUM(CASE WHEN t.top - bucket >= 63 THEN 0
        |    ELSE cnt // (CAST(1 AS BIGINT) << CAST(t.top - bucket AS INT)) END)
        |    AS BIGINT) AS score
        |FROM c, t GROUP BY key ORDER BY key""".stripMargin,

    // Fertility: the q78 chain rolled up corpus-weighted — pieces per
    // token occurrence in exact ppm.
    "q139_bpe_fertility" ->
      s"""WITH RECURSIVE
         |$bpeChainCtes
         |SELECT CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(SUM(n) AS BIGINT) AS n_tokens,
         |  CAST(SUM(n * len(syms)) AS BIGINT) AS n_pieces,
         |  CAST(SUM(n * len(syms)) * 1000000 // SUM(n) AS BIGINT) AS fertility_ppm
         |FROM w3""".stripMargin,

    // Mirrors TextDedup.dupSpanCoverage over documents ∪ truncations:
    // 5-token sliding window hashes, df over DISTINCT docs > 1 marks
    // duplicated spans, running-max interval sweep merges overlaps.
    "q79_span_dedup" ->
      s"""WITH corpus AS (
         | SELECT doc_id, text FROM documents
         | UNION ALL SELECT doc_id + 20000 AS doc_id,
         |   array_to_string(list_slice(toks, 1, CAST((len(toks)*3)//5 AS INT)), ' ') AS text
         |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM documents)
         |  WHERE doc_id % 5 = 0 AND len(toks) >= 5),
         |$tokCte,
         |win AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, i AS pos,
         |    ${dh("array_to_string(list_slice(toks, i, i+4), ' ')")} AS h
         |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 3)) AS i
         |        FROM tok WHERE len(toks) >= 5)),
         |duph AS (SELECT h FROM (SELECT DISTINCT doc_id, h FROM win) GROUP BY h HAVING count(*) > 1),
         |sweep AS (SELECT doc_id, n_tokens, pos,
         |    max(pos + 5) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
         |  FROM win WHERE h IN (SELECT h FROM duph))
         |SELECT doc_id, any_value(n_tokens) AS n_tokens,
         |  CAST(count(*) AS BIGINT) AS n_dup_windows,
         |  CAST(SUM(greatest(0, pos + 5 - greatest(coalesce(prev_end, pos), pos))) AS BIGINT) AS covered_tokens
         |FROM sweep GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Mirrors TextDedup.winnowFingerprints (k=8, w=4): encoded-key
    // window max = min gram hash with rightmost tie-break; fingerprint
    // set folded order-free as Σ (h·pos mod P).
    "q80_winnow_fingerprints" ->
      s"""WITH g AS (SELECT doc_id, CAST(length(text) - 7 AS BIGINT) AS n_grams, i AS pos,
         |    ${dh("text[i : i+7]")} AS h
         |  FROM (SELECT doc_id, text, unnest(range(1, length(text) - 6)) AS i
         |        FROM documents WHERE length(text) >= 11 AND length(text) < 2097152)),
         |k AS (SELECT doc_id, n_grams, pos, (1000000007 - h) * 2097152 + pos AS key FROM g),
         |s AS (SELECT doc_id, n_grams, pos,
         |    max(key) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS selkey FROM k),
         |f AS (SELECT DISTINCT doc_id, n_grams, selkey % 2097152 AS sel_pos,
         |    1000000007 - selkey // 2097152 AS sel_h
         |  FROM s WHERE pos <= n_grams - 3)
         |SELECT doc_id, any_value(n_grams) AS n_grams, CAST(count(*) AS BIGINT) AS n_fps,
         |  CAST(SUM((sel_h * sel_pos) % 1000000007) AS BIGINT) AS fp_checksum
         |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Mirrors TermStats.pmiCollocations: HUGEINT ≙ DECIMAL(38,0) exact
    // lift ratio, same truncating division, same (lift DESC, bigram)
    // total order.
    "q81_pmi_collocations" ->
      """WITH tok AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM documents),
        |uni AS (SELECT unnest(toks) AS t FROM tok),
        |c1 AS (SELECT t, CAST(count(*) AS BIGINT) AS c FROM uni GROUP BY t),
        |tot AS (SELECT CAST(count(*) AS HUGEINT) AS u FROM uni),
        |big AS (SELECT toks[i] AS a, toks[i+1] AS b
        |  FROM (SELECT toks, unnest(range(1, len(toks))) AS i FROM tok WHERE len(toks) >= 2)),
        |c2 AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c_ab FROM big GROUP BY a, b),
        |ntot AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM big)
        |SELECT a || ' ' || b AS bigram, c_ab,
        |  CAST((CAST(c_ab AS HUGEINT) * u * u * 1000000) // (CAST(ca.c AS HUGEINT) * cb.c * n) AS BIGINT) AS lift_ppm
        |FROM c2 JOIN c1 ca ON ca.t = c2.a JOIN c1 cb ON cb.t = c2.b
        |CROSS JOIN tot CROSS JOIN ntot
        |WHERE c_ab >= 5
        |ORDER BY lift_ppm DESC, bigram ASC LIMIT 50""".stripMargin,

    // Mirrors Packing.chunkDocuments (chunk 64, stride 48): window
    // starts at 1 + 48k for k in [0, (n-1)//48], final chunk short.
    "q82_doc_chunking" ->
      s"""WITH tok AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
         |  FROM documents),
         |c AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n, k,
         |    array_to_string(list_slice(toks, k*48 + 1, k*48 + 64), ' ') AS chunk
         |  FROM tok, unnest(range(0, (len(toks) - 1)//48 + 1)) AS t(k)
         |  WHERE len(toks) >= 1)
         |SELECT doc_id, CAST(k AS BIGINT) AS chunk_id,
         |  CAST(k*48 + 1 AS BIGINT) AS start_tok,
         |  CAST(least(64, n - k*48) AS BIGINT) AS n_tok,
         |  ${dh("chunk")} AS chunk_hash
         |FROM c ORDER BY doc_id, chunk_id""".stripMargin,

    // Mirrors TermStats.vocabularyGrowth: first occurrence = min doc_id
    // per token; running totals of tokens and new types in doc order.
    "q83_vocab_growth" ->
      """WITH tok AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM documents),
        |d AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tok FROM tok WHERE len(toks) >= 1),
        |f AS (SELECT t, min(doc_id) AS first_doc
        |  FROM (SELECT doc_id, unnest(toks) AS t FROM tok WHERE len(toks) >= 1) GROUP BY t),
        |nt AS (SELECT first_doc AS doc_id, CAST(count(*) AS BIGINT) AS new_types FROM f GROUP BY 1)
        |SELECT d.doc_id, d.n_tok, COALESCE(nt.new_types, 0) AS new_types,
        |  CAST(SUM(d.n_tok) OVER (ORDER BY d.doc_id) AS BIGINT) AS cum_tokens,
        |  CAST(SUM(COALESCE(nt.new_types, 0)) OVER (ORDER BY d.doc_id) AS BIGINT) AS vocab_size
        |FROM d LEFT JOIN nt USING (doc_id) ORDER BY doc_id""".stripMargin,

    // Mirrors Similarity.randomProject (dims 64, outDims 16, scale 1e6):
    // plane(j,d) = ±1 from bit 16 of the LCG at flat index j*64+d; all
    // arithmetic integer after the one quantizing multiply.
    "q84_random_projection" ->
      """WITH qe AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000000) AS BIGINT)) AS q FROM embeddings),
        |pr AS (SELECT vec_id, list_transform(range(0, 16), j ->
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(0, 64), d ->
        |      (CASE WHEN (((j*64 + d) * 1103515245 + 12345) // 65536) % 2 = 0 THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END) * q[d+1])),
        |      (a, b) -> a + b)) AS projs
        |  FROM qe),
        |sg AS (SELECT vec_id, projs,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(0, 16), j ->
        |      CASE WHEN projs[j+1] > 0 THEN CAST(1 AS BIGINT) << j ELSE CAST(0 AS BIGINT) END)),
        |      (a, b) -> a + b) AS srp_sig
        |  FROM pr)
        |SELECT vec_id, srp_sig, CAST(j AS BIGINT) AS pos, projs[j+1] AS proj
        |FROM sg, range(0, 16) r(j)
        |ORDER BY vec_id, pos""".stripMargin,

    // Mirrors Curation.sourceQualityFilter (threshold 440000 ppm):
    // truncating integer arithmetic end-to-end, so the per-source mean
    // is layout-independent in both engines.
    "q85_source_quality_gate" -> {
      val allStop = TextFeatures.stopwords.values.flatten.toSeq.distinct
        .map(w => s"'$w'").mkString("[", ",", "]")
      s"""WITH tok AS (SELECT doc_id, source, text, list_filter(string_split(text, ' '), t -> t <> '') AS toks
         |  FROM documents WHERE length(text) >= 1),
         |sc AS (SELECT doc_id, source,
         |    ((length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1000000) // length(text)
         |     + (len(list_filter(toks, t -> list_contains($allStop, t))) * 1000000) // len(toks)) // 2 AS score_ppm
         |  FROM tok WHERE len(toks) >= 1),
         |src AS (SELECT source, CAST(SUM(score_ppm) // count(*) AS BIGINT) AS src_score_ppm
         |  FROM sc GROUP BY source),
         |keep AS (SELECT source, src_score_ppm FROM src WHERE src_score_ppm >= 440000)
         |SELECT sc.doc_id, sc.source, keep.src_score_ppm
         |FROM sc JOIN keep USING (source) ORDER BY doc_id""".stripMargin
    },

    // Mirrors Curation.weightedSystematicSample (step 1000): inclusive
    // running token sum in doc_id order, select rows whose weight
    // interval crosses a step multiple, n_hits = crossings.
    "q75_weighted_sample" ->
      """WITH c AS (SELECT doc_id,
        |    CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT) AS w
        |  FROM documents),
        |s AS (SELECT doc_id, w,
        |    CAST(SUM(w) OVER (ORDER BY doc_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cend
        |  FROM c WHERE w > 0)
        |SELECT doc_id, w AS weight, CAST(cend//1000 - (cend-w)//1000 AS BIGINT) AS n_hits
        |FROM s WHERE cend//1000 > (cend-w)//1000 ORDER BY doc_id""".stripMargin,

    // Mirrors Profiler.histogramDriftPpm (binWidth 16): ppm shares per
    // (lang, bin), pooled bins per pair, absolute-difference sum.
    "q76_histogram_drift" ->
      """WITH c AS (SELECT lang AS g,
        |    CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT) // 16 AS bin
        |  FROM documents),
        |cells AS (SELECT g, bin, COUNT(*) AS cnt FROM c GROUP BY 1, 2),
        |tot AS (SELECT g, SUM(cnt) AS n FROM cells GROUP BY 1),
        |norm AS (SELECT g, bin, CAST(cnt * 1000000 // n AS BIGINT) AS share FROM cells JOIN tot USING (g)),
        |pairs AS (SELECT a.g AS g_a, b.g AS g_b FROM (SELECT DISTINCT g FROM norm) a, (SELECT DISTINCT g FROM norm) b WHERE a.g < b.g),
        |pooled AS (SELECT DISTINCT g_a, g_b, bin FROM (
        |  SELECT p.g_a, p.g_b, n.bin FROM pairs p JOIN norm n ON n.g = p.g_a
        |  UNION ALL SELECT p.g_a, p.g_b, n.bin FROM pairs p JOIN norm n ON n.g = p.g_b))
        |SELECT p.g_a, p.g_b,
        |  CAST(SUM(ABS(COALESCE(a.share, 0) - COALESCE(b.share, 0))) AS BIGINT) AS l1_ppm
        |FROM pooled p
        |LEFT JOIN norm a ON a.g = p.g_a AND a.bin = p.bin
        |LEFT JOIN norm b ON b.g = p.g_b AND b.bin = p.bin
        |GROUP BY 1, 2 ORDER BY g_a, g_b""".stripMargin,

    // Mirrors Sketches.kmvPairwiseJaccard (k=64): per-corpus bottom-64
    // mixed-hash sets, pooled bottom-64 per pair, membership probes,
    // ppm-quantized estimate.
    "q74_corpus_overlap" ->
      s"""WITH corp AS (
         |  SELECT 'a' AS g, text FROM documents WHERE doc_id % 2 = 0
         |  UNION ALL SELECT 'b', text FROM documents WHERE doc_id % 3 = 0
         |  UNION ALL SELECT 'c', text FROM documents WHERE doc_id % 5 = 0),
         |hd AS (SELECT DISTINCT g, ${dh("text")} AS h FROM corp),
         |mxs AS (SELECT DISTINCT g, ((48271 * ((h * h) % 1000000007)) % 1000000007
         |    + (16807 * h) % 1000000007) % 1000000007 AS m FROM hd),
         |sk AS (SELECT g, m FROM (SELECT g, m, ROW_NUMBER() OVER (PARTITION BY g ORDER BY m ASC) AS r FROM mxs) WHERE r <= 64),
         |pairs AS (SELECT a.g AS g_a, b.g AS g_b FROM (SELECT DISTINCT g FROM sk) a, (SELECT DISTINCT g FROM sk) b WHERE a.g < b.g),
         |pooled0 AS (
         |  SELECT DISTINCT g_a, g_b, m FROM (
         |    SELECT p.g_a, p.g_b, s.m FROM pairs p JOIN sk s ON s.g = p.g_a
         |    UNION ALL SELECT p.g_a, p.g_b, s.m FROM pairs p JOIN sk s ON s.g = p.g_b)),
         |pooled AS (SELECT g_a, g_b, m FROM (
         |  SELECT g_a, g_b, m, ROW_NUMBER() OVER (PARTITION BY g_a, g_b ORDER BY m ASC) AS r FROM pooled0) WHERE r <= 64)
         |SELECT p.g_a, p.g_b, COUNT(*) AS n_pool,
         |  CAST(SUM(CASE WHEN a.m IS NOT NULL AND b.m IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_common,
         |  CAST(SUM(CASE WHEN a.m IS NOT NULL AND b.m IS NOT NULL THEN 1 ELSE 0 END) * 1000000 // COUNT(*) AS BIGINT) AS jaccard_ppm
         |FROM pooled p
         |LEFT JOIN sk a ON a.g = p.g_a AND a.m = p.m
         |LEFT JOIN sk b ON b.g = p.g_b AND b.m = p.m
         |GROUP BY 1, 2 ORDER BY g_a, g_b""".stripMargin,

    "q33_label_centroids" ->
      """SELECT label, i AS pos,
        |  CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT) AS sum_q,
        |  COUNT(*) AS n
        |FROM embeddings, range(1, 65) r(i)
        |GROUP BY 1, 2 ORDER BY label, pos""".stripMargin,

    "q34_sessionize_batch" ->
      """WITH flagged AS (
        | SELECT user_id, ts, event_id, value,
        |   CASE WHEN lag(ts) OVER w IS NULL
        |         OR date_diff('second', lag(ts) OVER w, ts) > 1800 THEN 1 ELSE 0 END AS new_sess
        | FROM events
        | WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        | SELECT user_id, ts, value,
        |   CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        | FROM flagged)
        |SELECT user_id, session_id, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total,
        |  strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS start_ts
        |FROM sess GROUP BY 1, 2 ORDER BY user_id, session_id""".stripMargin,

    "q37_tfidf_topterms" ->
      """WITH tok AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM documents),
        |tfc AS (SELECT doc_id, term, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(toks) AS term FROM tok) GROUP BY 1, 2),
        |dfc AS (SELECT term, count(*) AS df FROM tfc GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |sc AS (SELECT doc_id, term, CAST(tf*(n+1) AS DOUBLE)/(df+1) AS score
        |  FROM tfc JOIN dfc USING (term), n),
        |rk AS (SELECT doc_id, term, score,
        |  ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rnk FROM sc)
        |SELECT doc_id, term, rnk, score FROM rk WHERE rnk <= 3
        |ORDER BY doc_id, rnk""".stripMargin,

    "q38_stratified_sample" ->
      s"""WITH h AS (SELECT lang, doc_id, ${dh("text")} AS hh FROM documents),
         |rk AS (SELECT lang, doc_id,
         |  ROW_NUMBER() OVER (PARTITION BY lang ORDER BY hh ASC, doc_id ASC) AS rnk FROM h)
         |SELECT lang, doc_id, rnk FROM rk WHERE rnk <= 50
         |ORDER BY lang, rnk""".stripMargin,

    // Two unrolled Lloyd iterations mirroring Clustering.lloydAssign:
    // first-8 seeds; assignment argmax by (cosine desc, cid asc);
    // centroid update = floor-quantized per-dim sums / (n·1e6), rounded
    // to FLOAT (`list(... ORDER BY i)` rebuilds the vector in dim order).
    "q39_kmeans" ->
      s"""WITH c0 AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < 8),
         |s1 AS (SELECT e.vec_id, e.embedding, c.cid, ${cosSql("e.embedding", "c.ce")} AS c
         |  FROM embeddings e, c0 c),
         |a1 AS (SELECT vec_id, embedding, cid FROM (
         |  SELECT vec_id, embedding, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY c DESC, cid ASC) AS rn
         |  FROM s1) WHERE rn = 1),
         |c1d AS (SELECT cid, i,
         |  CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)) AS DOUBLE)
         |    / (CAST(COUNT(*) AS DOUBLE) * 1000000.0) AS cv
         |  FROM a1, range(1, 65) r(i) GROUP BY 1, 2),
         |c1 AS (SELECT cid, list(CAST(cv AS FLOAT) ORDER BY i) AS ce FROM c1d GROUP BY cid),
         |s2 AS (SELECT e.vec_id, c.cid, ${cosSql("e.embedding", "c.ce")} AS cosine
         |  FROM embeddings e, c1 c),
         |a2 AS (SELECT vec_id, cid, cosine FROM (
         |  SELECT vec_id, cid, cosine, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cosine DESC, cid ASC) AS rn
         |  FROM s2) WHERE rn = 1)
         |SELECT vec_id, cid, cosine FROM a2 ORDER BY vec_id""".stripMargin,

    // Mirrors TermStats.bm25Rank term-for-term: n = count(*), avgdl one
    // double division, idf (n - df + 0.5)/(df + 0.5), tf part with
    // k1=1.2 b=0.75 in the same association order, floor(score*1e6)
    // per term summed as BIGINT per doc.
    "q41_bm25" ->
      """WITH base AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM documents),
        |dld AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks FROM base),
        |stats AS (SELECT count(*) AS n, CAST(SUM(dl) AS DOUBLE)/count(*) AS avgdl FROM dld),
        |tf AS (SELECT doc_id, dl, term, count(*) AS tf
        |  FROM (SELECT doc_id, dl, unnest(toks) AS term FROM dld)
        |  WHERE term IN ('join', 'vector', 'stream') GROUP BY 1, 2, 3),
        |dfc AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |scored AS (SELECT doc_id,
        |  CAST(floor(((n - df + 0.5)/(df + 0.5))
        |    * ((tf * (1.2 + 1)) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)))
        |    * 1000000.0) AS BIGINT) AS sq
        |  FROM tf JOIN dfc USING (term), stats),
        |agg AS (SELECT doc_id, CAST(SUM(sq) AS BIGINT) AS bm25_q FROM scored GROUP BY 1),
        |rk AS (SELECT doc_id, bm25_q,
        |  ROW_NUMBER() OVER (ORDER BY bm25_q DESC, doc_id ASC) AS rnk FROM agg)
        |SELECT doc_id, bm25_q, rnk FROM rk WHERE rnk <= 100
        |ORDER BY rnk""".stripMargin,

    "q42_int8_quantize" ->
      """WITH s AS (SELECT vec_id, embedding,
        |  CASE WHEN list_max(list_transform(embedding, x -> abs(x))) > 0
        |       THEN 127.0 / CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE)
        |       ELSE 0.0 END AS scale
        |  FROM embeddings)
        |SELECT vec_id, i AS pos,
        |  CASE WHEN scale > 0
        |       THEN CAST(floor(CAST(embedding[i] AS DOUBLE) * scale) AS BIGINT)
        |       ELSE CAST(0 AS BIGINT) END AS q,
        |  CAST(floor(scale * 1000000) AS BIGINT) AS scale_q
        |FROM s, range(1, 65) r(i)
        |ORDER BY vec_id, pos""".stripMargin,

    "q40_curation" ->
      s"""WITH RECURSIVE $corpusCte,
         |qtok AS (SELECT doc_id, text, list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM corpus),
         |qual AS (SELECT doc_id, text FROM qtok
         |  WHERE len(toks) >= 5
         |    AND CAST(length(regexp_replace(text, '[^\\p{L}]', '', 'g')) AS DOUBLE)
         |        / CAST(length(text) AS DOUBLE) >= 0.5),
         |exact AS (SELECT min(doc_id) AS doc_id, text FROM qual GROUP BY text),
         |${minhashChain("exact", "k")},
         |cand AS (SELECT id_a, id_b FROM kest WHERE est_jaccard >= 0.75),
         |und AS (SELECT id_a AS a, id_b AS b FROM cand UNION SELECT id_b, id_a FROM cand),
         |reach(node, r) AS (
         |  SELECT a, a FROM (SELECT DISTINCT a FROM und)
         |  UNION
         |  SELECT u.b, r.r FROM reach r JOIN und u ON u.a = r.node),
         |lab AS (SELECT node, min(r) AS cluster_id FROM reach GROUP BY 1),
         |dropped AS (SELECT node FROM lab WHERE node <> cluster_id)
         |SELECT doc_id, ${dh("text")} AS fp FROM exact
         |WHERE doc_id NOT IN (SELECT node FROM dropped)
         |ORDER BY doc_id""".stripMargin,

    // Mirrors Contamination.ngramOverlap: trigram strings hashed FIRST,
    // then per-doc distinct; the eval slice (doc_id % 50 = 0) supplies
    // the probe set; a left join + hit count per corpus doc. Docs with
    // < 3 tokens carry no trigram and are absent (shingle guard).
    "q43_decontaminate" ->
      s"""WITH tok AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM documents),
         |g AS (SELECT doc_id, unnest(list_distinct(list_transform(
         |    list_transform(range(1, len(toks)-1), i -> array_to_string(list_slice(toks, i, i+2), ' ')),
         |    s -> ${dh("s")}))) AS gg
         |  FROM tok WHERE len(toks) >= 3),
         |ev AS (SELECT DISTINCT gg FROM g WHERE doc_id % 50 = 0),
         |co AS (SELECT doc_id, gg FROM g WHERE doc_id % 50 <> 0)
         |SELECT co.doc_id, count(*) AS n_ngrams,
         |  CAST(SUM(CASE WHEN ev.gg IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
         |  CAST(CASE WHEN SUM(CASE WHEN ev.gg IS NOT NULL THEN 1 ELSE 0 END) > 0 THEN 1 ELSE 0 END AS BIGINT) AS contaminated
         |FROM co LEFT JOIN ev ON co.gg = ev.gg
         |GROUP BY co.doc_id ORDER BY doc_id""".stripMargin,

    // Salting CTE mirrors the q44 Spark query verbatim; the regexes are
    // the RE2-compatible subset TextAnalysis pins (identical semantics
    // in Java regex and DuckDB's RE2). Emails redact before phones.
    "q44_pii_scrub" ->
      s"""WITH salted AS (SELECT doc_id, text
         |  || CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now' ELSE '' END
         |  || CASE WHEN doc_id % 4 = 0 THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' today' ELSE '' END AS text
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '${graft.functions.TextAnalysis.EmailRe}')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(text, '${graft.functions.TextAnalysis.PhoneRe}')) AS BIGINT) AS n_phones,
         |  regexp_replace(regexp_replace(text, '${graft.functions.TextAnalysis.EmailRe}', '<EMAIL>', 'g'),
         |    '${graft.functions.TextAnalysis.PhoneRe}', '<PHONE>', 'g') AS redacted
         |FROM salted ORDER BY doc_id""".stripMargin,

    // Mirrors TermStats.repetitionStats: n-grams ride as polynomial
    // hashes, counts are per-occurrence (not distinct), fractions are
    // floor-quantized ppm in integer arithmetic (x*1e6 // total).
    "q45_repetition" ->
      s"""WITH tok AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
         |  FROM documents),
         |t3 AS (SELECT doc_id, toks FROM tok WHERE len(toks) >= 3),
         |bi_pos AS (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM t3),
         |tri_pos AS (SELECT doc_id, toks, unnest(range(1, len(toks)-1)) AS i FROM t3),
         |bg AS (SELECT doc_id, g, count(*) AS c FROM (
         |  SELECT doc_id, ${dh("array_to_string(list_slice(toks, i, i+1), ' ')")} AS g
         |  FROM bi_pos) GROUP BY 1, 2),
         |tg AS (SELECT doc_id, g, count(*) AS c FROM (
         |  SELECT doc_id, ${dh("array_to_string(list_slice(toks, i, i+2), ' ')")} AS g
         |  FROM tri_pos) GROUP BY 1, 2),
         |bi AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams, CAST(MAX(c) AS BIGINT) AS top_bigram_n
         |  FROM bg GROUP BY 1),
         |tri AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_trigrams,
         |  CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup_trigram_n
         |  FROM tg GROUP BY 1)
         |SELECT bi.doc_id, n_bigrams, top_bigram_n,
         |  CAST(top_bigram_n * 1000000 // n_bigrams AS BIGINT) AS top_bigram_frac_q,
         |  n_trigrams, dup_trigram_n,
         |  CAST(dup_trigram_n * 1000000 // n_trigrams AS BIGINT) AS dup_trigram_frac_q
         |FROM bi JOIN tri ON bi.doc_id = tri.doc_id
         |ORDER BY bi.doc_id""".stripMargin,

    // Mirrors Curation.hashSplit: bucket = polyhash(text || '#' || id)
    // mod 100 (the hash is already non-negative), fixed 80/90 cuts.
    "q46_dataset_split" ->
      s"""SELECT doc_id,
         |  ${dh("text || '#' || CAST(doc_id AS VARCHAR)")} % 100 AS bucket,
         |  CASE WHEN ${dh("text || '#' || CAST(doc_id AS VARCHAR)")} % 100 < 80 THEN 'train'
         |       WHEN ${dh("text || '#' || CAST(doc_id AS VARCHAR)")} % 100 < 90 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM documents ORDER BY doc_id""".stripMargin,

    // Mirrors AsOfJoin.lastAtOrBefore (union-scan formulation, the q20
    // forward-fill idiom): right rows (src 0) sort before left rows at
    // equal timestamps so exactly-coincident errors are visible; ties
    // among right rows resolve to the greatest event_id (last under
    // ORDER BY ... tb ASC). Two independent last_value windows are
    // exact here because error rows never carry NULL payload columns
    // (the struct-snapshot guarantee is only observable under payload
    // nulls).
    "q47_asof_join" ->
      """WITH u AS (
        |  SELECT user_id, ts, 1 AS src, CAST(NULL AS BIGINT) AS tb,
        |    event_id, CAST(NULL AS BIGINT) AS r_eid, CAST(NULL AS DOUBLE) AS r_val
        |  FROM events WHERE event_type = 'click'
        |  UNION ALL
        |  SELECT user_id, ts, 0 AS src, event_id AS tb,
        |    CAST(NULL AS BIGINT) AS event_id, event_id AS r_eid, value AS r_val
        |  FROM events WHERE event_type = 'error'),
        |w AS (SELECT user_id, src, event_id,
        |    last_value(r_eid IGNORE NULLS) OVER win AS l_eid,
        |    last_value(r_val IGNORE NULLS) OVER win AS l_val
        |  FROM u WINDOW win AS (PARTITION BY user_id ORDER BY ts ASC, src ASC, tb ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT event_id, user_id,
        |  coalesce(l_eid, CAST(-1 AS BIGINT)) AS asof_event_id,
        |  coalesce(l_val, CAST(-1.0 AS DOUBLE)) AS asof_value
        |FROM w WHERE src = 1 ORDER BY event_id""".stripMargin,

    // Mirrors TermStats.invertedIndex: distinct (term, doc) pairs, df
    // band [2, 100], postings as the comma-joined ascending id list.
    "q49_inverted_index" ->
      """WITH td AS (SELECT DISTINCT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS term
        |  FROM documents),
        |g AS (SELECT term, count(*) AS df,
        |    string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
        |  FROM td GROUP BY term)
        |SELECT term, df, postings FROM g WHERE df BETWEEN 2 AND 100
        |ORDER BY term""".stripMargin,

    // Mirrors TextDedup.blockBoilerplate over the demo corpus:
    // non-overlapping 5-token blocks, hashed; document frequency over
    // DISTINCT docs; blocks with df > 2 cut; text re-joined in block
    // order. Empty kept set → n_kept 0, kept_text ''.
    "q50_block_dedup" ->
      s"""WITH $corpusCte, $tokCte,
         |blk AS (SELECT doc_id, i AS pos,
         |    array_to_string(list_slice(toks, i, i+4), ' ') AS block
         |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks)+1, 5)) AS i FROM tok
         |        WHERE len(toks) >= 1)),
         |hb AS (SELECT doc_id, pos, block, ${dh("block")} AS h FROM blk),
         |boiler AS (SELECT h FROM (SELECT DISTINCT doc_id, h FROM hb)
         |  GROUP BY h HAVING count(*) > 2),
         |kept AS (SELECT doc_id, count(*) AS n_kept,
         |    string_agg(block, ' ' ORDER BY pos) AS kept_text
         |  FROM hb WHERE h NOT IN (SELECT h FROM boiler) GROUP BY doc_id)
         |SELECT hb.doc_id, count(*) AS n_blocks,
         |  CAST(coalesce(any_value(kept.n_kept), 0) AS BIGINT) AS n_kept,
         |  coalesce(any_value(kept.kept_text), '') AS kept_text
         |FROM hb LEFT JOIN kept ON hb.doc_id = kept.doc_id
         |GROUP BY hb.doc_id ORDER BY hb.doc_id""".stripMargin,

    // Mirrors TermStats.bigramLmScore: hashed (prefix, bigram)
    // occurrence counts; c1/c2 corpus model; per-occurrence probability
    // floor-quantized to ppm; per-doc mean in integer division.
    "q51_bigram_lm" ->
      s"""WITH tok AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM documents),
         |occ AS (SELECT doc_id, ${dh("toks[i]")} AS h1, ${dh("toks[i] || ' ' || toks[i+1]")} AS h2
         |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM tok WHERE len(toks) >= 2)),
         |mm AS (SELECT doc_id, h1, h2, count(*) AS cnt FROM occ GROUP BY 1, 2, 3),
         |c1 AS (SELECT h1, CAST(SUM(cnt) AS BIGINT) AS c1 FROM mm GROUP BY 1),
         |c2 AS (SELECT h1, h2, CAST(SUM(cnt) AS BIGINT) AS c2 FROM mm GROUP BY 1, 2)
         |SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
         |  CAST(SUM(cnt * (c2 * 1000000 // c1)) // SUM(cnt) AS BIGINT) AS mean_p_q
         |FROM mm JOIN c2 USING (h1, h2) JOIN c1 USING (h1)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Mirrors Curation.mixtureWeights (α = 1/2, budget 1000): √n is
    // IEEE-correctly-rounded on both engines, floor-quantized BEFORE
    // the integer normalization.
    "q52_mixture_weights" ->
      """WITH g AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1),
        |q AS (SELECT lang, n_docs,
        |    CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000) AS BIGINT) AS sq FROM g)
        |SELECT lang, n_docs,
        |  CAST(sq * 1000000 // SUM(sq) OVER () AS BIGINT) AS weight_ppm,
        |  CAST(sq * 1000 // SUM(sq) OVER () AS BIGINT) AS alloc
        |FROM q ORDER BY lang""".stripMargin,

    // Mirrors RangeJoin.countInWindow (errors ← purchases, 30 min):
    // second-truncated epoch comparison exactly as the engine's
    // unix_timestamp bins; DECIMAL-exact value sums.
    "q53_range_join" ->
      """WITH l AS (SELECT event_id, user_id, ts, CAST(floor(epoch(ts)) AS BIGINT) AS lsec
        |  FROM events WHERE event_type = 'error'),
        |r AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS rsec, value
        |  FROM events WHERE event_type = 'purchase'),
        |hits AS (SELECT l.event_id, count(*) AS n_in_window,
        |    CAST(SUM(CAST(r.value AS DECIMAL(18,6))) AS DOUBLE) AS sum_in_window
        |  FROM l JOIN r ON l.user_id = r.user_id
        |    AND r.rsec >= l.lsec AND r.rsec < l.lsec + 1800
        |  GROUP BY 1)
        |SELECT l.event_id, l.user_id, l.ts,
        |  coalesce(hits.n_in_window, 0) AS n_in_window,
        |  coalesce(hits.sum_in_window, 0.0) AS sum_in_window
        |FROM l LEFT JOIN hits USING (event_id)
        |ORDER BY l.event_id""".stripMargin,

    // Mirrors the q54 composition: one distinct (lang, trigram-hash)
    // set feeds both the exact count and the bottom-64 KMV sketch; the
    // rank key is the quadratic 2-universal mix (a·h²+b·h mod p) of
    // Sketches.mix, and the estimator (k-1)·M // h(k) is pure integer
    // arithmetic.
    "q54_kmv_distinct" ->
      s"""WITH tok AS (SELECT lang, list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM documents),
         |g AS (SELECT lang, unnest(list_transform(
         |    list_transform(range(1, len(toks)-1), i -> array_to_string(list_slice(toks, i, i+2), ' ')),
         |    s -> ${dh("s")})) AS h
         |  FROM tok WHERE len(toks) >= 3),
         |hd AS (SELECT DISTINCT lang, h FROM g),
         |mx AS (SELECT lang, ((48271 * ((h * h) % 1000000007)) % 1000000007
         |    + (16807 * h) % 1000000007) % 1000000007 AS m FROM hd),
         |ex AS (SELECT lang, count(*) AS n_distinct FROM hd GROUP BY 1),
         |rk AS (SELECT lang, m, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY m ASC) AS r FROM mx),
         |kv AS (SELECT lang, count(*) AS n_kept, max(m) AS hk FROM rk WHERE r <= 64 GROUP BY 1)
         |SELECT lang, n_distinct, n_kept,
         |  CASE WHEN n_kept < 64 THEN n_kept
         |       ELSE CAST(63 AS BIGINT) * 1000000007 // hk END AS kmv_est
         |FROM ex JOIN kv USING (lang) ORDER BY lang""".stripMargin,

    // Mirrors the q55 range frame: per-user trailing 3600 s window over
    // second-truncated epochs, count + DECIMAL-exact sum.
    "q55_rolling_window" ->
      """WITH s AS (SELECT event_id, user_id, value,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS secs FROM events)
        |SELECT event_id, user_id,
        |  COUNT(*) OVER w AS n_1h,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sum_1h
        |FROM s WINDOW w AS (PARTITION BY user_id ORDER BY secs
        |  RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,

    // Mirrors Profiler.discreteQuantiles: rank arithmetic
    // ceil(n·p/100) = (n·p + 99) // 100 under (value, doc_id) order —
    // the same row is chosen by both engines, no interpolation.
    "q56_quantile_profile" ->
      """WITH t AS (SELECT lang, doc_id,
        |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS value
        |  FROM documents),
        |r AS (SELECT lang, value, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY value ASC, doc_id ASC) AS rnk,
        |    COUNT(*) OVER (PARTITION BY lang) AS n
        |  FROM t)
        |SELECT lang, CAST(pct AS BIGINT) AS pct, value
        |FROM r CROSS JOIN (SELECT unnest([50, 90, 99]) AS pct) p
        |WHERE rnk = (n * pct + 99) // 100
        |ORDER BY lang, pct""".stripMargin,

    // Mirrors Profiler.histogramQuantiles (binWidth 16): truncating
    // integer binning, cumulative-interval rank walk over bins.
    "q69_histogram_quantiles" ->
      """WITH t AS (SELECT lang, CAST(len(list_filter(string_split(text,' '), x -> x <> '')) AS BIGINT) AS v FROM documents),
        |cells AS (SELECT lang, v // 16 AS bin, COUNT(*) AS cnt FROM t GROUP BY 1,2),
        |r AS (SELECT lang, bin, cnt,
        |   SUM(cnt) OVER (PARTITION BY lang ORDER BY bin ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |   SUM(cnt) OVER (PARTITION BY lang) AS n FROM cells)
        |SELECT lang, CAST(pct AS BIGINT) AS pct, CAST(bin*16 AS BIGINT) AS bin_lo, CAST(bin*16+15 AS BIGINT) AS bin_hi
        |FROM r CROSS JOIN (SELECT unnest([50,90,99]) AS pct) p
        |WHERE cum >= (n*pct+99)//100 AND cum - cnt < (n*pct+99)//100
        |ORDER BY lang, pct""".stripMargin,

    // Mirrors TextDedup.dedupedCorpus (threshold 0.75): q36's recursive
    // component labels, then corpus minus non-canonical members.
    "q70_deduped_corpus" ->
      s"""WITH RECURSIVE $minhashCtes,
         |cand AS (SELECT id_a, id_b FROM est WHERE est_jaccard >= 0.75),
         |und AS (SELECT id_a AS a, id_b AS b FROM cand UNION SELECT id_b, id_a FROM cand),
         |reach(node, r) AS (
         |  SELECT a, a FROM (SELECT DISTINCT a FROM und)
         |  UNION
         |  SELECT u.b, r.r FROM reach r JOIN und u ON u.a = r.node),
         |lbl AS (SELECT node, min(r) AS cluster_id FROM reach GROUP BY 1)
         |SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars FROM corpus
         |WHERE doc_id NOT IN (SELECT node FROM lbl WHERE node <> cluster_id)
         |ORDER BY doc_id""".stripMargin,

    // Mirrors Relational.scd2Intervals over events: half-open validity
    // intervals per user, (ts, event_id) order, open tail = NULL.
    "q57_scd2_intervals" ->
      """SELECT event_id, user_id, event_type, ts AS valid_from,
        |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS valid_to
        |FROM events ORDER BY event_id""".stripMargin,

    // Mirrors Curation.mixtureSample (budget 200): q52's integer
    // allocation per language, then the q38-style hash-ordered head of
    // exactly `alloc` docs per language.
    "q59_mixture_sample" ->
      s"""WITH g AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1),
         |q AS (SELECT lang, CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000) AS BIGINT) AS sq FROM g),
         |a AS (SELECT lang, CAST(sq * 200 // SUM(sq) OVER () AS BIGINT) AS alloc FROM q),
         |h AS (SELECT lang, doc_id, ${dh("text")} AS hh FROM documents),
         |r AS (SELECT lang, doc_id,
         |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY hh ASC, doc_id ASC) AS rnk FROM h)
         |SELECT r.lang, r.doc_id, CAST(r.rnk AS BIGINT) AS rnk, a.alloc
         |FROM r JOIN a USING (lang) WHERE r.rnk <= a.alloc
         |ORDER BY lang, rnk""".stripMargin,

    // Mirrors Clustering.farthestPointSeeds (k=3) + one lloydAssignFrom
    // pass, rounds unrolled: seed 1 = min vec_id; each next seed is the
    // argmin over remaining vectors of the max cosine to the chosen
    // seeds (ties -> lower id); assignment = argmax cosine with ties to
    // the lower centroid id. Cosine is the same left-to-right double
    // fold / (sqrt·sqrt) association as every other embedding oracle.
    "q48_kmeans_fps" ->
      s"""WITH s1 AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings ORDER BY vec_id LIMIT 1),
         |m2 AS (SELECT e.vec_id, ${cosSql("e.embedding", "s1.ce")} AS mc
         |  FROM embeddings e, s1 WHERE e.vec_id <> s1.cid),
         |s2 AS (SELECT e.vec_id AS cid, e.embedding AS ce FROM embeddings e
         |  JOIN (SELECT vec_id FROM m2 ORDER BY mc ASC, vec_id ASC LIMIT 1) t ON e.vec_id = t.vec_id),
         |m3 AS (SELECT e.vec_id,
         |    greatest(${cosSql("e.embedding", "s1.ce")}, ${cosSql("e.embedding", "s2.ce")}) AS mc
         |  FROM embeddings e, s1, s2 WHERE e.vec_id <> s1.cid AND e.vec_id <> s2.cid),
         |s3 AS (SELECT e.vec_id AS cid, e.embedding AS ce FROM embeddings e
         |  JOIN (SELECT vec_id FROM m3 ORDER BY mc ASC, vec_id ASC LIMIT 1) t ON e.vec_id = t.vec_id),
         |seeds AS (SELECT cid, ce FROM s1 UNION ALL SELECT cid, ce FROM s2 UNION ALL SELECT cid, ce FROM s3),
         |sc AS (SELECT e.vec_id, s.cid, ${cosSql("e.embedding", "s.ce")} AS cosine
         |  FROM embeddings e, seeds s),
         |a AS (SELECT vec_id, cid, cosine,
         |  ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cosine DESC, cid ASC) AS rn FROM sc)
         |SELECT vec_id, cid, cosine FROM a WHERE rn = 1 ORDER BY vec_id""".stripMargin,

    // Mirrors Packing.packSequences (budget 256): global running token
    // sum in doc_id order gives each doc's [start, end) interval; the
    // doc lands in every sequence floor(start/256)..floor((end-1)/256),
    // contributing the overlap. Integer arithmetic throughout (the
    // HUGEINT window sum is cast back to BIGINT for range()).
    "q61_sequence_pack" ->
      """WITH c AS (SELECT doc_id,
        |    CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT) AS tok
        |  FROM documents),
        |s AS (SELECT doc_id, tok,
        |    CAST(SUM(tok) OVER (ORDER BY doc_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS fin
        |  FROM c WHERE tok > 0)
        |SELECT CAST(t.seq AS BIGINT) AS seq_id, doc_id,
        |  CAST(least(fin, (t.seq+1)*256) - greatest(fin - tok, t.seq*256) AS BIGINT) AS n_tok
        |FROM s, unnest(range((fin - tok)//256, (fin - 1)//256 + 1)) AS t(seq)
        |ORDER BY seq_id, doc_id""".stripMargin,

    // Mirrors Sketches.countMinHeavyHitters (3×32, minCount 20): cell
    // counts per affine row hash, estimate = min over the token's 3
    // cells. `tok` is the hashed expression's variable name, so dh()
    // applies verbatim.
    "q62_countmin_tokens" ->
      s"""WITH t AS (SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok FROM documents),
         |h AS (SELECT tok, ${dh("tok")} AS hh FROM t),
         |cells AS (SELECT j, ((2*j+3)*hh + (5*j+7)) % 1000000007 % 32 AS cell, COUNT(*) AS cnt
         |  FROM h, range(0, 3) r(j) GROUP BY 1, 2),
         |probe AS (SELECT tok, hh, COUNT(*) AS exact_cnt FROM h GROUP BY 1, 2 HAVING COUNT(*) >= 20),
         |pc AS (SELECT tok, exact_cnt, j, ((2*j+3)*hh + (5*j+7)) % 1000000007 % 32 AS cell
         |  FROM probe, range(0, 3) r(j))
         |SELECT pc.tok AS token, CAST(exact_cnt AS BIGINT) AS exact_cnt, CAST(MIN(c.cnt) AS BIGINT) AS cm_est
         |FROM pc JOIN cells c USING (j, cell)
         |GROUP BY 1, 2 ORDER BY token""".stripMargin,

    // Mirrors GraphRank.pageRank (3 iterations, scale 1e9, damping
    // (85·x)//100, teleport (15·(S//n))//100, contributions r//deg,
    // dangling mass leaks): iterations unrolled as identical CTEs.
    "q63_pagerank" -> {
      def it(prev: String): String =
        s"""(SELECT nodes.node,
           |    (SELECT (15 * (1000000000 // n)) // 100 FROM n) + (85 * COALESCE(c.s, 0)) // 100 AS r
           |  FROM nodes LEFT JOIN (
           |    SELECT e.dst AS node, CAST(SUM(p.r // deg.deg) AS BIGINT) AS s
           |    FROM $prev p JOIN e ON p.node = e.src JOIN deg ON e.src = deg.src GROUP BY 1) c USING (node))""".stripMargin
      s"""WITH e AS (SELECT DISTINCT src, dst FROM (
         |    SELECT l_suppkey * 2 AS src, l_partkey * 2 + 1 AS dst FROM lineitem
         |    UNION ALL SELECT l_partkey * 2 + 1, l_suppkey * 2 FROM lineitem)),
         |nodes AS (SELECT DISTINCT node FROM (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
         |n AS (SELECT COUNT(*) AS n FROM nodes),
         |deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY 1),
         |r0 AS (SELECT node, CAST((SELECT 1000000000 // n FROM n) AS BIGINT) AS r FROM nodes),
         |i1 AS ${it("r0")},
         |i2 AS ${it("i1")},
         |i3 AS ${it("i2")}
         |SELECT node, CAST(r AS BIGINT) AS rank_q FROM i3 ORDER BY node""".stripMargin
    },

    // Mirrors GraphRank.pageRank(redistributeDangling = true) on the
    // DIRECTED supplier→part graph: same unrolled arithmetic as q63
    // plus the per-iteration dangling mass D = Σ rank of nodes with no
    // out-edges, folded in as (85 · (ins + D//n)) // 100.
    "q68_pagerank_redistribute" -> {
      def it(prev: String): String =
        s"""(SELECT nodes.node,
           |    (SELECT (15 * (1000000000 // n)) // 100 FROM n)
           |    + (85 * (COALESCE(c.s, 0)
           |        + (SELECT COALESCE(SUM(p.r), 0) FROM $prev p
           |           WHERE p.node NOT IN (SELECT src FROM deg)) // (SELECT n FROM n))) // 100 AS r
           |  FROM nodes LEFT JOIN (
           |    SELECT e.dst AS node, CAST(SUM(p.r // deg.deg) AS BIGINT) AS s
           |    FROM $prev p JOIN e ON p.node = e.src JOIN deg ON e.src = deg.src GROUP BY 1) c USING (node))""".stripMargin
      s"""WITH e AS (SELECT DISTINCT l_suppkey * 2 AS src, l_partkey * 2 + 1 AS dst FROM lineitem),
         |nodes AS (SELECT DISTINCT node FROM (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
         |n AS (SELECT COUNT(*) AS n FROM nodes),
         |deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY 1),
         |r0 AS (SELECT node, CAST((SELECT 1000000000 // n FROM n) AS BIGINT) AS r FROM nodes),
         |i1 AS ${it("r0")},
         |i2 AS ${it("i1")},
         |i3 AS ${it("i2")}
         |SELECT node, CAST(r AS BIGINT) AS rank_q FROM i3 ORDER BY node""".stripMargin
    },

    // Mirrors Contamination.semanticOverlap (threshold 0.9, seeds =
    // vec_id < 20): argmax cosine per corpus doc, ties to the lower
    // seed id, same left-to-right double fold as every embedding oracle.
    "q64_semantic_decontaminate" ->
      s"""WITH c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 20),
         |s AS (SELECT vec_id AS near_seed, embedding AS se FROM embeddings WHERE vec_id < 20),
         |sc AS (SELECT c.vec_id, s.near_seed, ${cosSql("c.embedding", "s.se")} AS cosine FROM c, s),
         |r AS (SELECT vec_id, near_seed, cosine,
         |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cosine DESC, near_seed ASC) AS rn FROM sc)
         |SELECT vec_id, near_seed, cosine, CAST(cosine >= 0.9 AS BIGINT) AS contaminated
         |FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin,

    // Mirrors TextDedup.minhashCandidatesAgainst: the truncated-variant
    // batch's band table joined against the corpus's band table — two
    // instances of the standard minhash chain (prefixes n/c), no
    // self-pairing on either side.
    "q65_incremental_dedup" ->
      s"""WITH trunc AS (SELECT doc_id + 20000 AS doc_id,
         |    array_to_string(list_slice(toks, 1, CAST((len(toks)*3)//5 AS INT)), ' ') AS text
         |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM documents)
         |  WHERE doc_id % 5 = 0 AND len(toks) >= 5),
         |${minhashChain("trunc", "n")},
         |${minhashChain("documents", "c")}
         |SELECT DISTINCT a.doc_id AS id_new, b.doc_id AS id_corpus,
         |  CAST(len(list_filter(range(1, 17), i -> a.sig[i] = b.sig[i])) AS DOUBLE)/16 AS est_jaccard
         |FROM nband a JOIN cband b ON a.band = b.band AND a.bucket = b.bucket
         |ORDER BY id_new, id_corpus""".stripMargin,

    // Mirrors TextDedup.incrementalDedupStep: the doubled truncated
    // batch's band table joined against the corpus band table (cross,
    // 'corpus') plus the batch chain's own self-join ('batch') — the
    // minhashChain `nest` CTE IS the within-batch pair set.
    "q67_incremental_dedup_full" ->
      s"""WITH trunc AS (SELECT doc_id + 20000 AS doc_id,
         |    array_to_string(list_slice(toks, 1, CAST((len(toks)*3)//5 AS INT)), ' ') AS text
         |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM documents)
         |  WHERE doc_id % 5 = 0 AND len(toks) >= 5),
         |batch AS (SELECT doc_id, text FROM trunc
         |  UNION ALL SELECT doc_id + 10000 AS doc_id, text FROM trunc),
         |${minhashChain("batch", "n")},
         |${minhashChain("documents", "c")}
         |SELECT * FROM (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |    CAST(len(list_filter(range(1, 17), i -> a.sig[i] = b.sig[i])) AS DOUBLE)/16 AS est_jaccard,
         |    'corpus' AS pair_src
         |  FROM nband a JOIN cband b ON a.band = b.band AND a.bucket = b.bucket
         |  UNION ALL
         |  SELECT id_a, id_b, est_jaccard, 'batch' AS pair_src FROM nest
         |) ORDER BY pair_src, id_a, id_b""".stripMargin,

    // Mirrors Spectral.topComponentScores (2 rounds, scale 1e6):
    // HUGEINT column sums, v ← (w·1e6)//max|w| (`//` truncates toward
    // zero — BigInt semantics), final score = dot with v2.
    "q66_top_component" -> {
      def itSql(prevV: String, n: Int): String = {
        val from = if (n > 1) s"qe, v${n - 1}" else "qe"
        s"""d$n AS (SELECT vec_id, q, list_reduce(list_transform(range(1, 65), i -> q[i]*$prevV), (a,b)->a+b) AS dot FROM $from),
           |w$n AS (SELECT i, SUM(CAST(d$n.dot AS HUGEINT) * q[i]) AS w FROM d$n, range(1, 65) r(i) GROUP BY i),
           |m$n AS (SELECT MAX(ABS(w)) AS m FROM w$n),
           |v$n AS (SELECT list(CAST((w * 1000000) // m AS BIGINT) ORDER BY i) AS v FROM w$n, m$n)""".stripMargin
      }
      s"""WITH qe AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000000) AS BIGINT)) AS q FROM embeddings),
         |${itSql("1000000", 1)},
         |${itSql("v[i]", 2)}
         |SELECT vec_id, CAST(list_reduce(list_transform(range(1, 65), i -> q[i]*v[i]), (a,b)->a+b) AS BIGINT) AS score
         |FROM qe, v2 ORDER BY vec_id""".stripMargin
    },

    // Mirrors Relational.snapshotDiff over the constructed old/new
    // snapshots: full-outer classification, unchanged keys dropped,
    // IS DISTINCT FROM = Spark's null-safe <=> negated.
    "q86_snapshot_diff" ->
      """WITH olds AS (SELECT doc_id, text FROM documents),
        |news AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN text || ' rev2' ELSE text END AS text
        |  FROM documents WHERE doc_id % 7 <> 0
        |  UNION ALL
        |  SELECT doc_id + 30000 AS doc_id, text FROM documents WHERE doc_id % 11 = 0),
        |j AS (SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        |    o.text AS old_text, n.text AS new_text,
        |    o.doc_id IS NOT NULL AS inold, n.doc_id IS NOT NULL AS innew
        |  FROM olds o FULL OUTER JOIN news n ON o.doc_id = n.doc_id)
        |SELECT doc_id,
        |  CASE WHEN NOT inold THEN 'insert'
        |       WHEN NOT innew THEN 'delete'
        |       ELSE 'update' END AS change_type,
        |  old_text, new_text
        |FROM j
        |WHERE NOT inold OR NOT innew OR old_text IS DISTINCT FROM new_text
        |ORDER BY doc_id""".stripMargin,

    // Mirrors FuzzyJoin.editDistanceJoin's CONTRACT (all pairs within
    // maxDist=2 among length>=12 strings) as the brute-force
    // length-filtered join — the prefix signature is a lossless
    // optimization, so the pair sets agree exactly.
    "q87_edit_join" ->
      """WITH base AS (SELECT doc_id, substring(text, 1, 30) AS s FROM documents),
        |mut AS (SELECT doc_id + 40000 AS doc_id,
        |    substring(s, 1, 10) || substring(s, 12) AS s
        |  FROM base WHERE doc_id % 3 = 0),
        |c AS (SELECT * FROM base UNION ALL SELECT * FROM mut),
        |f AS (SELECT * FROM c WHERE length(s) >= 12)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
        |FROM f a JOIN f b
        |  ON a.doc_id < b.doc_id AND abs(length(a.s) - length(b.s)) <= 2
        |WHERE levenshtein(a.s, b.s) <= 2
        |ORDER BY id_a, id_b""".stripMargin,

    // Mirrors Sketches.hllRegisters (p=6, MaxRho=30): bucket = mix % 64,
    // rho = trailing zeros of (mix // 64) + 1 via the pure-integer
    // bit_count((r & -r) - 1) spelling, register = per-bucket max.
    "q88_hll_registers" -> {
      val vh = dh("CAST(user_id AS VARCHAR)")
      s"""WITH h0 AS (SELECT event_type, $vh AS h FROM events),
         |mx AS (SELECT event_type,
         |    ((48271 * ((h * h) % 1000000007)) % 1000000007
         |     + (16807 * h) % 1000000007) % 1000000007 AS m FROM h0),
         |b AS (SELECT event_type, m % 64 AS bucket, m // 64 AS r FROM mx),
         |rho AS (SELECT event_type, bucket,
         |    CASE WHEN r = 0 THEN 30
         |         ELSE least(30, bit_count((r & -r) - 1) + 1) END AS rho
         |  FROM b)
         |SELECT event_type, bucket, CAST(max(rho) AS BIGINT) AS register
         |FROM rho GROUP BY event_type, bucket
         |ORDER BY event_type, bucket""".stripMargin
    },

    // Mirrors BloomPrune.prunedSemiJoin's CONTRACT: the bloom pass is
    // pure pruning (no false negatives; positives re-checked by the
    // join), so the result is the plain fingerprint semi join.
    "q89_bloom_prune" ->
      s"""SELECT doc_id, source FROM documents
         |WHERE ${dh("text")} IN
         |  (SELECT ${dh("text")} FROM documents WHERE doc_id % 13 = 0)
         |ORDER BY doc_id""".stripMargin,

    // Mirrors Sketches.hllEstimate over the q88 registers: integer
    // harmonic sum on the 2^30 scale, floor-DIV estimate.
    "q91_hll_estimate" -> {
      val vh = dh("CAST(user_id AS VARCHAR)")
      s"""WITH h0 AS (SELECT event_type, $vh AS h FROM events),
         |mx AS (SELECT event_type,
         |    ((48271 * ((h * h) % 1000000007)) % 1000000007
         |     + (16807 * h) % 1000000007) % 1000000007 AS m FROM h0),
         |b AS (SELECT event_type, m % 64 AS bucket, m // 64 AS r FROM mx),
         |rho AS (SELECT event_type, bucket,
         |    CASE WHEN r = 0 THEN 30
         |         ELSE least(30, bit_count((r & -r) - 1) + 1) END AS rho
         |  FROM b),
         |regs AS (SELECT event_type, bucket, max(rho) AS register
         |  FROM rho GROUP BY event_type, bucket)
         |SELECT event_type, count(*) AS n_occupied,
         |  CAST((709 * 64 * 64 * CAST(1073741824 AS BIGINT)) //
         |    (1000 * (SUM(CAST(1 AS BIGINT) << (30 - register))
         |             + (64 - count(*)) * CAST(1073741824 AS BIGINT)))
         |    AS BIGINT) AS est
         |FROM regs GROUP BY event_type ORDER BY event_type""".stripMargin
    },

    // Mirrors TermStats.zipfProfile: token counts ranked by
    // (cnt DESC, tok ASC), top 100.
    "q92_zipf_profile" ->
      """WITH t AS (SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok FROM documents),
        |c AS (SELECT tok, count(*) AS cnt FROM t GROUP BY tok),
        |r AS (SELECT tok, cnt,
        |    CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS BIGINT) AS rnk
        |  FROM c)
        |SELECT tok, cnt, rnk FROM r WHERE rnk <= 100 ORDER BY rnk""".stripMargin,

    // Mirrors TermStats.ngramNovelty (n=3): distinct trigram hashes per
    // doc (q54's shingle spelling), df over docs, unique = df 1.
    "q93_ngram_novelty" ->
      s"""WITH tok AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM documents),
         |g AS (SELECT DISTINCT doc_id, h FROM (
         |  SELECT doc_id, unnest(list_transform(
         |      list_transform(range(1, len(toks)-1), i -> array_to_string(list_slice(toks, i, i+2), ' ')),
         |      s -> ${dh("s")})) AS h
         |  FROM tok WHERE len(toks) >= 3)),
         |df AS (SELECT h, count(*) AS dfc FROM g GROUP BY h)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         |  CAST(sum(CASE WHEN dfc = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
         |  CAST((sum(CASE WHEN dfc = 1 THEN 1 ELSE 0 END) * 1000000) // count(*) AS BIGINT) AS novelty_ppm
         |FROM g JOIN df USING (h) GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Mirrors Curation.assignShards (8 shards): inclusive prefix sum in
    // doc order, shard = interval-start * 8 DIV total.
    "q94_shard_assign" ->
      """WITH c AS (SELECT doc_id,
        |    CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT) AS w
        |  FROM documents),
        |s AS (SELECT doc_id, w,
        |    CAST(SUM(w) OVER (ORDER BY doc_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cend
        |  FROM c WHERE w > 0),
        |t AS (SELECT MAX(cend) AS total FROM s)
        |SELECT doc_id, w AS weight,
        |  CAST(((cend - w) * 8) // total AS BIGINT) AS shard
        |FROM s, t ORDER BY doc_id""".stripMargin,

    // Mirrors the q95 confusion matrix: q28's langid CASE, then
    // (lang, pred_lang) counts.
    "q95_langid_confusion" ->
      s"""WITH tok AS (SELECT doc_id, lang, list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM documents),
         |h AS (SELECT doc_id, lang,
         |  len(list_filter(toks, t -> list_contains(${stopList("de")}, t))) AS h_de,
         |  len(list_filter(toks, t -> list_contains(${stopList("en")}, t))) AS h_en,
         |  len(list_filter(toks, t -> list_contains(${stopList("es")}, t))) AS h_es,
         |  len(list_filter(toks, t -> list_contains(${stopList("fr")}, t))) AS h_fr
         | FROM tok),
         |p AS (SELECT lang, CASE
         |  WHEN h_de > 0 AND h_de >= h_en AND h_de >= h_es AND h_de >= h_fr THEN 'de'
         |  WHEN h_en > 0 AND h_en >= h_de AND h_en >= h_es AND h_en >= h_fr THEN 'en'
         |  WHEN h_es > 0 AND h_es >= h_de AND h_es >= h_en AND h_es >= h_fr THEN 'es'
         |  WHEN h_fr > 0 AND h_fr >= h_de AND h_fr >= h_en AND h_fr >= h_es THEN 'fr'
         |  ELSE 'und' END AS pred_lang
         | FROM h)
         |SELECT lang, pred_lang, count(*) AS n
         |FROM p GROUP BY lang, pred_lang ORDER BY lang, pred_lang""".stripMargin,

    // Mirrors Profiler.columnProfile over orders: canonical-string
    // values, count/NDV/lexicographic min-max per column.
    "q90_column_profile" ->
      """WITH u AS (
        |  SELECT 'o_orderkey' AS col_name, CAST(o_orderkey AS VARCHAR) AS v FROM orders
        |  UNION ALL SELECT 'o_custkey', CAST(o_custkey AS VARCHAR) FROM orders
        |  UNION ALL SELECT 'o_orderstatus', o_orderstatus FROM orders
        |  UNION ALL SELECT 'o_orderpriority', o_orderpriority FROM orders)
        |SELECT col_name, count(v) AS n_nonnull, count(DISTINCT v) AS n_distinct,
        |  min(v) AS min_str, max(v) AS max_str
        |FROM u GROUP BY col_name ORDER BY col_name""".stripMargin,

    // JSON props field extracted in the scan projection, per-type stats.
    "q96_json_extract" ->
      """WITH t AS (SELECT event_type,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events)
        |SELECT event_type, count(k) AS n, CAST(SUM(k) AS BIGINT) AS sum_k,
        |  min(k) AS min_k, max(k) AS max_k
        |FROM t GROUP BY event_type ORDER BY event_type""".stripMargin,

    // Triangle count on the supplier co-supply graph: orientation-free
    // a<b<c enumeration over the normalized distinct edge set — exact,
    // and exactly what the degree-ordered wedge builder computes.
    "q97_triangles" ->
      """WITH sp AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
        |e AS (SELECT DISTINCT x.s AS a, y.s AS b
        |  FROM sp x JOIN sp y ON x.p = y.p AND x.s < y.s)
        |SELECT CAST(count(*) AS BIGINT) AS n_triangles
        |FROM e e1 JOIN e e2 ON e1.a = e2.a AND e1.b < e2.b
        |JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b""".stripMargin,

    // RRF fusion of the q41 BM25 lexical top-100 and dense cosine
    // top-100 vs query vector 0; contribution 1e6 DIV (60 + rnk).
    "q98_rrf_fusion" ->
      s"""WITH base AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM documents),
         |dld AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks FROM base),
         |stats AS (SELECT count(*) AS n, CAST(SUM(dl) AS DOUBLE)/count(*) AS avgdl FROM dld),
         |tf AS (SELECT doc_id, dl, term, count(*) AS tf
         |  FROM (SELECT doc_id, dl, unnest(toks) AS term FROM dld)
         |  WHERE term IN ('join', 'vector', 'stream') GROUP BY 1, 2, 3),
         |dfc AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |scored AS (SELECT doc_id,
         |  CAST(floor(((n - df + 0.5)/(df + 0.5))
         |    * ((tf * (1.2 + 1)) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)))
         |    * 1000000.0) AS BIGINT) AS sq
         |  FROM tf JOIN dfc USING (term), stats),
         |bagg AS (SELECT doc_id, CAST(SUM(sq) AS BIGINT) AS bm25_q FROM scored GROUP BY 1),
         |lex AS (SELECT doc_id, rnk FROM (SELECT doc_id,
         |  ROW_NUMBER() OVER (ORDER BY bm25_q DESC, doc_id ASC) AS rnk FROM bagg)
         |  WHERE rnk <= 100),
         |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |sc AS (SELECT vec_id AS doc_id, ${cosSql("qe", "embedding")} AS cosine
         |  FROM embeddings, q WHERE vec_id <> 0),
         |dense AS (SELECT doc_id, rnk FROM (SELECT doc_id,
         |  ROW_NUMBER() OVER (ORDER BY cosine DESC, doc_id ASC) AS rnk FROM sc)
         |  WHERE rnk <= 100),
         |u AS (SELECT doc_id, 1000000 // (60 + rnk) AS c FROM lex
         |  UNION ALL SELECT doc_id, 1000000 // (60 + rnk) FROM dense),
         |agg AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS rrf_q,
         |  count(*) AS n_lists FROM u GROUP BY 1),
         |fused AS (SELECT doc_id, rrf_q, n_lists,
         |  ROW_NUMBER() OVER (ORDER BY rrf_q DESC, doc_id ASC) AS rnk FROM agg)
         |SELECT doc_id, rrf_q, n_lists, rnk FROM fused WHERE rnk <= 100
         |ORDER BY rnk""".stripMargin,

    // Integer CDF calibration: per-lang token-count distribution
    // compacted to (lang, v, cnt), strictly-below cumulative ppm.
    "q99_cdf_calibration" ->
      """WITH t AS (SELECT lang,
        |  CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS v
        |  FROM documents),
        |c AS (SELECT lang, v, count(*) AS cnt FROM t GROUP BY 1, 2),
        |n AS (SELECT lang, CAST(SUM(cnt) AS BIGINT) AS nn FROM c GROUP BY 1),
        |cum AS (SELECT lang, v, cnt,
        |  CAST(SUM(cnt) OVER (PARTITION BY lang ORDER BY v) AS BIGINT) AS cm FROM c)
        |SELECT lang, v, cnt, ((cm - cnt) * 1000000) // nn AS cdf_ppm
        |FROM cum JOIN n USING (lang) ORDER BY lang, v""".stripMargin,

    // Weighted LPA, 2 unrolled synchronous rounds; argmax via
    // ROW_NUMBER (tw DESC, lbl ASC) ≡ the engine's struct-min.
    "q100_label_propagation" ->
      """WITH ew AS (SELECT x.l_partkey AS a, y.l_partkey AS b,
        |  CAST(count(DISTINCT x.l_orderkey) AS BIGINT) AS w
        |  FROM lineitem x JOIN lineitem y
        |  ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
        |  GROUP BY 1, 2),
        |sym AS (SELECT a AS n, b AS m, w FROM ew UNION ALL SELECT b, a, w FROM ew),
        |l0 AS (SELECT DISTINCT n, n AS lbl FROM sym),
        |g1 AS (SELECT s.n, l.lbl, CAST(SUM(s.w) AS BIGINT) AS tw
        |  FROM sym s JOIN l0 l ON s.m = l.n GROUP BY 1, 2),
        |l1 AS (SELECT n, lbl FROM (SELECT n, lbl,
        |  ROW_NUMBER() OVER (PARTITION BY n ORDER BY tw DESC, lbl ASC) AS r
        |  FROM g1) WHERE r = 1),
        |g2 AS (SELECT s.n, l.lbl, CAST(SUM(s.w) AS BIGINT) AS tw
        |  FROM sym s JOIN l1 l ON s.m = l.n GROUP BY 1, 2),
        |l2 AS (SELECT n, lbl FROM (SELECT n, lbl,
        |  ROW_NUMBER() OVER (PARTITION BY n ORDER BY tw DESC, lbl ASC) AS r
        |  FROM g2) WHERE r = 1)
        |SELECT n, lbl FROM l2 ORDER BY n""".stripMargin,

    // 3 unrolled peel rounds at k=80: degrees over the surviving edge
    // set, survivors filter both endpoints.
    "q101_kcore" ->
      """WITH e0 AS (SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
        |  FROM lineitem x JOIN lineitem y
        |  ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
        |d1 AS (SELECT n, CAST(count(*) AS BIGINT) AS deg
        |  FROM (SELECT a AS n FROM e0 UNION ALL SELECT b FROM e0) GROUP BY 1),
        |s1 AS (SELECT n FROM d1 WHERE deg >= 80),
        |e1 AS (SELECT a, b FROM e0
        |  WHERE a IN (SELECT n FROM s1) AND b IN (SELECT n FROM s1)),
        |d2 AS (SELECT n, CAST(count(*) AS BIGINT) AS deg
        |  FROM (SELECT a AS n FROM e1 UNION ALL SELECT b FROM e1) GROUP BY 1),
        |s2 AS (SELECT n FROM d2 WHERE deg >= 80),
        |e2 AS (SELECT a, b FROM e1
        |  WHERE a IN (SELECT n FROM s2) AND b IN (SELECT n FROM s2)),
        |d3 AS (SELECT n, CAST(count(*) AS BIGINT) AS deg
        |  FROM (SELECT a AS n FROM e2 UNION ALL SELECT b FROM e2) GROUP BY 1)
        |SELECT n, deg FROM d3 WHERE deg >= 80 ORDER BY n""".stripMargin,

    // First-touch funnel, 6h windows, each stage anchored at the
    // user's earliest qualifying event of the previous stage.
    "q102_funnel" ->
      """WITH a AS (SELECT user_id, min(ts) AS t FROM events
        |  WHERE event_type = 'signup' GROUP BY 1),
        |b AS (SELECT e.user_id, min(e.ts) AS t FROM events e
        |  JOIN a ON e.user_id = a.user_id
        |  WHERE e.event_type = 'click' AND e.ts > a.t
        |    AND e.ts <= a.t + INTERVAL 6 HOUR GROUP BY 1),
        |c AS (SELECT e.user_id, min(e.ts) AS t FROM events e
        |  JOIN b ON e.user_id = b.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > b.t
        |    AND e.ts <= b.t + INTERVAL 6 HOUR GROUP BY 1)
        |SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS step, 'signup' AS event_type,
        |    (SELECT count(*) FROM a) AS n_users
        |  UNION ALL SELECT 2, 'click', (SELECT count(*) FROM b)
        |  UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM c))
        |ORDER BY step""".stripMargin,

    // Purchase-day cohort retention: epoch-day integers (UTC), offset
    // = active day − first day, distinct users per cell.
    "q103_cohort_retention" ->
      """WITH p AS (SELECT user_id,
        |  CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d
        |  FROM events WHERE event_type = 'purchase'),
        |f AS (SELECT user_id, min(d) AS cohort_day FROM p GROUP BY 1),
        |act AS (SELECT DISTINCT p.user_id, f.cohort_day,
        |  p.d - f.cohort_day AS day_offset
        |  FROM p JOIN f ON p.user_id = f.user_id)
        |SELECT cohort_day, day_offset, CAST(count(*) AS BIGINT) AS n_users
        |FROM act GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // Per-type OLS slope of daily counts in ppm; sign-split truncating
    // division so // and Spark's DIV agree on negative slopes.
    "q104_trend_slope" ->
      """WITH dc AS (SELECT event_type,
        |  CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS x,
        |  CAST(count(*) AS BIGINT) AS y FROM events GROUP BY 1, 2),
        |s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |  CAST(SUM(x*y) AS BIGINT) AS sxy, CAST(SUM(x*x) AS BIGINT) AS sxx
        |  FROM dc GROUP BY 1),
        |sl AS (SELECT event_type, n, n*sxy - sx*sy AS num,
        |  n*sxx - sx*sx AS den FROM s)
        |SELECT event_type, n AS n_points,
        |  CAST(CASE WHEN den = 0 THEN 0
        |    WHEN num >= 0 THEN (num * 1000000) // den
        |    ELSE -((-num * 1000000) // den) END AS BIGINT) AS slope_ppm
        |FROM sl ORDER BY event_type""".stripMargin,

    // Mirrors Contamination.containmentPairs: per-doc distinct trigram
    // shingle hashes, corpus-df stop cap applied to both sides AND the
    // denominator, truncating ppm quotient.
    "q105_containment" ->
      s"""WITH trunc AS (SELECT doc_id + 20000 AS doc_id,
         |    array_to_string(list_slice(toks, 1, CAST((len(toks)*3)//5 AS INT)), ' ') AS text
         |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM documents)
         |  WHERE doc_id % 5 = 0 AND len(toks) >= 5),
         |csh AS (SELECT doc_id AS id_b, unnest(list_distinct(list_transform(
         |    list_transform(range(1, len(toks)-1), i -> array_to_string(list_slice(toks, i, i+2), ' ')),
         |    s -> ${dh("s")}))) AS shingle
         |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM documents)
         |  WHERE len(toks) >= 3),
         |esh AS (SELECT doc_id AS id_a, unnest(list_distinct(list_transform(
         |    list_transform(range(1, len(toks)-1), i -> array_to_string(list_slice(toks, i, i+2), ' ')),
         |    s -> ${dh("s")}))) AS shingle
         |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM trunc)
         |  WHERE len(toks) >= 3),
         |stop AS (SELECT shingle FROM csh GROUP BY 1 HAVING count(*) > $StopShingleDf),
         |ck AS (SELECT * FROM csh WHERE shingle NOT IN (SELECT shingle FROM stop)),
         |ek AS (SELECT * FROM esh WHERE shingle NOT IN (SELECT shingle FROM stop)),
         |sizes AS (SELECT id_a, CAST(count(*) AS BIGINT) AS n_a FROM ek GROUP BY 1),
         |inter AS (SELECT e.id_a, c.id_b, CAST(count(*) AS BIGINT) AS n_inter
         |  FROM ek e JOIN ck c ON e.shingle = c.shingle GROUP BY 1, 2)
         |SELECT id_a, id_b, n_inter, n_a,
         |  (n_inter * 1000000) // n_a AS contain_ppm
         |FROM inter JOIN sizes USING (id_a)
         |WHERE (n_inter * 1000000) // n_a >= 800000
         |ORDER BY id_a, id_b""".stripMargin,

    // q87's edit-distance pair graph, collapsed by the q36 recursive
    // min-reachable-id closure.
    "q106_entity_clusters" ->
      """WITH RECURSIVE base AS (SELECT doc_id, substring(text, 1, 30) AS s FROM documents),
        |mut AS (SELECT doc_id + 40000 AS doc_id,
        |    substring(s, 1, 10) || substring(s, 12) AS s
        |  FROM base WHERE doc_id % 3 = 0),
        |c AS (SELECT * FROM base UNION ALL SELECT * FROM mut),
        |f AS (SELECT * FROM c WHERE length(s) >= 12),
        |pair AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM f a JOIN f b
        |  ON a.doc_id < b.doc_id AND abs(length(a.s) - length(b.s)) <= 2
        |  WHERE levenshtein(a.s, b.s) <= 2),
        |und AS (SELECT id_a AS a, id_b AS b FROM pair UNION SELECT id_b, id_a FROM pair),
        |reach(node, r) AS (
        |  SELECT a, a FROM (SELECT DISTINCT a FROM und)
        |  UNION
        |  SELECT u.b, r.r FROM reach r JOIN und u ON u.a = r.node)
        |SELECT node AS doc_id, CAST(min(r) AS BIGINT) AS entity_id
        |FROM reach GROUP BY 1 ORDER BY doc_id""".stripMargin,

    // 5 unrolled greedy max-cover rounds: gains over uncovered tokens,
    // argmax (gain DESC, doc_id ASC), covered set grows by the pick.
    "q107_max_cover" -> {
      def round(i: Int): String =
        s"""g$i AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS gain
           |  FROM tok WHERE token NOT IN (SELECT token FROM c${i - 1})
           |  GROUP BY 1),
           |p$i AS (SELECT CAST($i AS BIGINT) AS rnk, doc_id, gain FROM g$i
           |  ORDER BY gain DESC, doc_id ASC LIMIT 1),
           |c$i AS (SELECT token FROM c${i - 1}
           |  UNION SELECT t.token FROM tok t JOIN p$i USING (doc_id))""".stripMargin
      s"""WITH tok AS (SELECT doc_id, unnest(list_distinct(list_transform(
         |    range(1, len(toks)-1), i -> array_to_string(list_slice(toks, i, i+2), ' ')))) AS token
         |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM documents)
         |  WHERE len(toks) >= 3),
         |c0 AS (SELECT CAST(NULL AS VARCHAR) AS token WHERE 1 = 0),
         |${(1 to 5).map(round).mkString(",\n")}
         |SELECT rnk, doc_id, gain FROM p1
         |UNION ALL SELECT rnk, doc_id, gain FROM p2
         |UNION ALL SELECT rnk, doc_id, gain FROM p3
         |UNION ALL SELECT rnk, doc_id, gain FROM p4
         |UNION ALL SELECT rnk, doc_id, gain FROM p5
         |ORDER BY rnk""".stripMargin
    },

    // Tukey fences: quartiles by the same ceil(n·p/100) rank walk as
    // q56/q99, fences as the tenths-scaled division-free comparison.
    "q108_iqr_outliers" ->
      """WITH t AS (SELECT lang,
        |  CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS v
        |  FROM documents),
        |c AS (SELECT lang, v, count(*) AS cnt FROM t GROUP BY 1, 2),
        |r AS (SELECT lang, v, cnt,
        |  CAST(SUM(cnt) OVER (PARTITION BY lang ORDER BY v) AS BIGINT) AS cm,
        |  CAST(SUM(cnt) OVER (PARTITION BY lang) AS BIGINT) AS nn FROM c),
        |q AS (SELECT lang,
        |  MIN(CASE WHEN cm >= (nn*25+99)//100 AND cm-cnt < (nn*25+99)//100 THEN v END) AS q1,
        |  MIN(CASE WHEN cm >= (nn*75+99)//100 AND cm-cnt < (nn*75+99)//100 THEN v END) AS q3
        |  FROM r GROUP BY 1)
        |SELECT c.lang, q1, q3, CAST(SUM(cnt) AS BIGINT) AS n_rows,
        |  CAST(SUM(CASE WHEN v*10 < q1*10 - 15*(q3-q1) THEN cnt ELSE 0 END) AS BIGINT) AS n_below,
        |  CAST(SUM(CASE WHEN v*10 > q3*10 + 15*(q3-q1) THEN cnt ELSE 0 END) AS BIGINT) AS n_above
        |FROM c JOIN q ON c.lang = q.lang GROUP BY 1, 2, 3
        |ORDER BY c.lang""".stripMargin,

    // Markov transitions: LAG under the same total (ts, event_id)
    // order, row-normalized floor-ppm probabilities.
    "q109_markov_transitions" ->
      """WITH s AS (SELECT user_id, event_type AS to_type,
        |  LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS from_type
        |  FROM events),
        |t AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n_trans
        |  FROM s WHERE from_type IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT from_type, CAST(SUM(n_trans) AS BIGINT) AS tt FROM t GROUP BY 1)
        |SELECT from_type, to_type, n_trans, (n_trans * 1000000) // tt AS prob_ppm
        |FROM t JOIN tot USING (from_type)
        |ORDER BY from_type, to_type""".stripMargin,

    // Personalized PageRank: q63's unrolled arithmetic with the
    // teleport term gated on seed membership (seeds ∩ nodes, div nS).
    "q110_personalized_pagerank" -> {
      def it(prev: String): String =
        s"""(SELECT nodes.node,
           |    (CASE WHEN nodes.node IN (SELECT node FROM seeds)
           |      THEN (SELECT (15 * (1000000000 // ns)) // 100 FROM ns) ELSE 0 END)
           |    + (85 * COALESCE(c.s, 0)) // 100 AS r
           |  FROM nodes LEFT JOIN (
           |    SELECT e.dst AS node, CAST(SUM(p.r // deg.deg) AS BIGINT) AS s
           |    FROM $prev p JOIN e ON p.node = e.src JOIN deg ON e.src = deg.src GROUP BY 1) c USING (node))""".stripMargin
      s"""WITH e AS (SELECT DISTINCT l_suppkey * 2 AS src, l_partkey * 2 + 1 AS dst FROM lineitem),
         |nodes AS (SELECT DISTINCT node FROM (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
         |seeds AS (SELECT node FROM nodes
         |  WHERE node IN (SELECT s_suppkey * 2 FROM supplier WHERE s_suppkey % 50 = 0)),
         |ns AS (SELECT COUNT(*) AS ns FROM seeds),
         |deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY 1),
         |r0 AS (SELECT node, CASE WHEN node IN (SELECT node FROM seeds)
         |  THEN (SELECT 1000000000 // ns FROM ns) ELSE 0 END AS r FROM nodes),
         |i1 AS ${it("r0")},
         |i2 AS ${it("i1")},
         |i3 AS ${it("i2")}
         |SELECT node, CAST(r AS BIGINT) AS rank_q FROM i3 ORDER BY node""".stripMargin
    },

    // Interval overlap: the oracle spells the join directly as the
    // inequality predicate (fine at oracle scale); second-truncated
    // epochs match the engine's unix_timestamp bins.
    "q111_interval_overlap" ->
      """WITH a AS (SELECT event_id AS id_a, user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS s,
        |    CAST(floor(epoch(ts)) AS BIGINT) + 7200 AS e
        |  FROM events WHERE event_type = 'signup'),
        |b AS (SELECT event_id AS id_b, user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS s,
        |    CAST(floor(epoch(ts)) AS BIGINT) + 7200 AS e
        |  FROM events WHERE event_type = 'purchase')
        |SELECT id_a, id_b, user_id,
        |  CAST(least(a.e, b.e) - greatest(a.s, b.s) AS BIGINT) AS overlap_sec
        |FROM a JOIN b USING (user_id)
        |WHERE a.s < b.e AND b.s < a.e
        |ORDER BY id_a, id_b""".stripMargin,

    // Pivot: the q09 long form folded back wide with MAX-per-attr
    // (each (key, attr) holds exactly one value).
    "q112_pivot_attrs" ->
      """WITH long AS (
        | SELECT p_partkey, 'size' AS attr, CAST(p_size AS DOUBLE) AS val FROM part
        | UNION ALL
        | SELECT p_partkey, 'retailprice', p_retailprice FROM part)
        |SELECT p_partkey,
        |  MAX(CASE WHEN attr = 'size' THEN val END) AS size,
        |  MAX(CASE WHEN attr = 'retailprice' THEN val END) AS retailprice
        |FROM long GROUP BY 1 ORDER BY 1""".stripMargin,

    // ROLLUP: GROUPING() bitmask matches Spark's grouping_id (first
    // argument = most significant bit).
    "q113_rollup_revenue" ->
      """SELECT COALESCE(r_name, 'ALL') AS r_name,
        |  COALESCE(n_name, 'ALL') AS n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  CAST(GROUPING(r_name, n_name) AS BIGINT) AS gid
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY gid, r_name, n_name""".stripMargin,

    // Phrase match: 1-based token positions via a lateral range, the
    // occurrence chain as a positional self-join.
    "q114_phrase_match" ->
      """WITH tok AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM documents),
        |t AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, toks[CAST(i AS INT)] AS w
        |  FROM tok, unnest(range(1, len(toks)+1)) r(i)),
        |m AS (SELECT a.doc_id, a.pos AS strt FROM t a JOIN t b
        |  ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |  WHERE a.w = 'sort' AND b.w = 'merge')
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matches,
        |  MIN(strt) AS first_pos
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin,

    // HITS: 2 unrolled rounds; each half-round renormalizes by its max
    // via a scalar subquery, COALESCE(0) for nodes without the role.
    "q115_hits" -> {
      def half(src: String, prevV: String, prevCol: String,
               gatherOn: String, outTbl: String, outCol: String): String =
        s"""${outTbl}r AS (SELECT e.$gatherOn AS node, CAST(SUM(p.$prevCol) AS BIGINT) AS v
           |  FROM e JOIN $prevV p ON e.${if (gatherOn == "dst") "src" else "dst"} = p.node GROUP BY 1),
           |$outTbl AS (SELECT n.node,
           |  COALESCE((r.v * 1000000) // (SELECT MAX(v) FROM ${outTbl}r), 0) AS $outCol
           |  FROM nodes n LEFT JOIN ${outTbl}r r ON n.node = r.node)""".stripMargin
      s"""WITH e AS (SELECT DISTINCT l_suppkey * 2 AS src, l_partkey * 2 + 1 AS dst FROM lineitem),
         |nodes AS (SELECT DISTINCT node FROM (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
         |h0 AS (SELECT node, CAST(1000000 AS BIGINT) AS h FROM nodes),
         |${half("e", "h0", "h", "dst", "a1", "a")},
         |${half("e", "a1", "a", "src", "h1", "h")},
         |${half("e", "h1", "h", "dst", "a2", "a")},
         |${half("e", "a2", "a", "src", "h2", "h")}
         |SELECT n.node, CAST(h2.h AS BIGINT) AS hub_q, CAST(a2.a AS BIGINT) AS auth_q
         |FROM nodes n JOIN h2 ON n.node = h2.node JOIN a2 ON n.node = a2.node
         |ORDER BY n.node""".stripMargin
    },

    // All-pairs cosine over the df-gated (2 ≤ df ≤ 100) vocabulary;
    // the cosine test is cross-multiplied in HUGEINT — no sqrt.
    "q116_allpairs_cosine" ->
      s"""WITH $corpusCte,
         |$tokCte,
         |tf AS (SELECT doc_id, w AS term, CAST(count(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, unnest(toks) AS w FROM tok) GROUP BY 1, 2),
         |gated AS (SELECT term FROM (SELECT term, count(*) AS df FROM tf GROUP BY 1)
         |  WHERE df BETWEEN 2 AND 100),
         |p AS (SELECT tf.* FROM tf JOIN gated USING (term)),
         |norms AS (SELECT doc_id, CAST(SUM(tf*tf) AS BIGINT) AS n2 FROM p GROUP BY 1),
         |dots AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    CAST(SUM(a.tf*b.tf) AS BIGINT) AS dot
         |  FROM p a JOIN p b ON a.term = b.term AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, dot, na.n2 AS n2_a, nb.n2 AS n2_b
         |FROM dots JOIN norms na ON doc_a = na.doc_id
         |  JOIN norms nb ON doc_b = nb.doc_id
         |WHERE CAST(dot AS HUGEINT)*dot*1000000 >= CAST(640000 AS HUGEINT)*na.n2*nb.n2
         |ORDER BY doc_a, doc_b""".stripMargin,

    // BFS via a recursive CTE with UNION (not ALL): the working set per
    // level is the NEW (node, hops) rows only, so work stays bounded by
    // |edges|·maxHops instead of the path count; min(hops) = BFS level.
    "q117_hop_distance" ->
      """WITH RECURSIVE
        |e AS (SELECT DISTINCT l_suppkey*2 AS src, l_partkey*2+1 AS dst FROM lineitem
        |  UNION SELECT DISTINCT l_partkey*2+1 AS src, l_suppkey*2 AS dst FROM lineitem),
        |seedset AS (SELECT s_suppkey*2 AS node FROM supplier WHERE s_suppkey % 50 = 0),
        |nodes AS (SELECT DISTINCT node FROM
        |  (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
        |walk(node, hops) AS (
        |  SELECT n.node, CAST(0 AS BIGINT) AS hops
        |  FROM nodes n JOIN seedset s ON n.node = s.node
        |  UNION
        |  SELECT e.dst AS node, w.hops + 1 AS hops
        |  FROM walk w JOIN e ON w.node = e.src WHERE w.hops < 3
        |)
        |SELECT node, MIN(hops) AS hops FROM walk GROUP BY 1 ORDER BY 1""".stripMargin,

    // The walk corpus replayed verbatim: ranked adjacency + the same
    // hash-mix step; UNION ALL is safe — each walk row extends to at
    // most one row, so the recursion is walk-count-bounded.
    "q118_random_walks" ->
      """WITH RECURSIVE
        |e AS (SELECT DISTINCT l_suppkey*2 AS src, l_partkey*2+1 AS dst FROM lineitem
        |  UNION SELECT DISTINCT l_partkey*2+1 AS src, l_suppkey*2 AS dst FROM lineitem),
        |adj AS (SELECT src, dst,
        |  CAST(row_number() OVER (PARTITION BY src ORDER BY dst) AS BIGINT) - 1 AS rnk,
        |  CAST(count(*) OVER (PARTITION BY src) AS BIGINT) AS deg FROM e),
        |nodes AS (SELECT DISTINCT node FROM
        |  (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
        |walk(walk_id, step, node) AS (
        |  SELECT n.node*2 + t.i AS walk_id, CAST(0 AS BIGINT) AS step, n.node
        |  FROM nodes n, unnest(range(0, 2)) t(i)
        |  UNION ALL
        |  SELECT w.walk_id, w.step + 1 AS step, a.dst AS node
        |  FROM walk w JOIN adj a ON a.src = w.node
        |   AND a.rnk = ((w.node % 1000003)*8191 + (w.walk_id % 1000003)*127
        |                + (w.step+1)*524287) % 1000003 % a.deg
        |  WHERE w.step < 3
        |)
        |SELECT walk_id, step, node FROM walk ORDER BY walk_id, step""".stripMargin,

    // SemDeDup: q39's unrolled 2-iteration Lloyd on the cloned corpus,
    // then within-cluster pairwise cosine; keep-lowest-id survivors.
    "q120_semantic_dedup" ->
      s"""WITH ecorpus AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL SELECT vec_id + 10000, embedding FROM embeddings),
         |c0 AS (SELECT vec_id AS cid, embedding AS ce FROM ecorpus WHERE vec_id < 8),
         |s1 AS (SELECT e.vec_id, e.embedding, c.cid, ${cosSql("e.embedding", "c.ce")} AS c
         |  FROM ecorpus e, c0 c),
         |a1 AS (SELECT vec_id, embedding, cid FROM (
         |  SELECT vec_id, embedding, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY c DESC, cid ASC) AS rn
         |  FROM s1) WHERE rn = 1),
         |c1d AS (SELECT cid, i,
         |  CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)) AS DOUBLE)
         |    / (CAST(COUNT(*) AS DOUBLE) * 1000000.0) AS cv
         |  FROM a1, range(1, 65) r(i) GROUP BY 1, 2),
         |c1 AS (SELECT cid, list(CAST(cv AS FLOAT) ORDER BY i) AS ce FROM c1d GROUP BY cid),
         |s2 AS (SELECT e.vec_id, c.cid, ${cosSql("e.embedding", "c.ce")} AS cosine
         |  FROM ecorpus e, c1 c),
         |a2 AS (SELECT vec_id, cid FROM (
         |  SELECT vec_id, cid, cosine, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cosine DESC, cid ASC) AS rn
         |  FROM s2) WHERE rn = 1),
         |dropped AS (SELECT DISTINCT y.vec_id
         |  FROM a2 x JOIN a2 y ON x.cid = y.cid AND x.vec_id < y.vec_id
         |  JOIN ecorpus ea ON x.vec_id = ea.vec_id
         |  JOIN ecorpus eb ON y.vec_id = eb.vec_id
         |  WHERE ${cosSql("ea.embedding", "eb.embedding")} >= 0.95)
         |SELECT vec_id, cid FROM a2
         |WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
         |ORDER BY vec_id""".stripMargin,

    // Sorted neighborhood: global rank over (prefix, id), pairs within
    // 5 ranks — the oracle spells the rank as one ROW_NUMBER.
    "q121_sorted_neighborhood" ->
      s"""WITH $corpusCte,
         |r AS (SELECT doc_id,
         |  CAST(row_number() OVER (ORDER BY substring(text, 1, 24), doc_id) AS BIGINT) AS rnk
         |  FROM corpus)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b, b.rnk - a.rnk AS gap
         |FROM r a JOIN r b ON b.rnk > a.rnk AND b.rnk <= a.rnk + 5
         |ORDER BY id_a, id_b""".stripMargin,

    // Dim stats: quantize at both grains inside the unnest, aggregate.
    "q125_embedding_dim_stats" ->
      """WITH f AS (SELECT CAST(i AS BIGINT) AS pos,
        |  CAST(floor(CAST(embedding[CAST(i AS INT)] AS DOUBLE)*1000000) AS BIGINT) AS q6,
        |  CAST(floor(CAST(embedding[CAST(i AS INT)] AS DOUBLE)*1000) AS BIGINT) AS q3
        | FROM embeddings, unnest(range(1, 65)) t(i))
        |SELECT pos, CAST(count(*) AS BIGINT) AS n, CAST(SUM(q6) AS BIGINT) AS sum_q6,
        |  CAST(SUM(q3*q3) AS BIGINT) AS sumsq_q3, MIN(q6) AS min_q6, MAX(q6) AS max_q6
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,

    // Winsorize: the q56 rank arithmetic picks the fences, a broadcast
    // join clips; values ride untouched so doubles stay bit-exact.
    "q126_winsorize" ->
      """WITH t AS (SELECT event_type, event_id, value AS v FROM events),
        |r AS (SELECT event_type, v,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY v ASC) AS rnk,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM t),
        |f AS (SELECT event_type,
        |  MIN(CASE WHEN rnk = (n * 5 + 99) // 100 THEN v END) AS lo,
        |  MIN(CASE WHEN rnk = (n * 95 + 99) // 100 THEN v END) AS hi
        | FROM r GROUP BY 1)
        |SELECT t.event_type, t.event_id, t.v,
        |  least(greatest(t.v, f.lo), f.hi) AS v_clipped, f.lo, f.hi
        |FROM t JOIN f USING (event_type) ORDER BY event_type, event_id""".stripMargin,

    // Modularity: one exact fraction sum(2m·mc2 − dc²)/(4m²), HUGEINT
    // only at the final ppm division.
    "q130_modularity" ->
      """WITH e AS (SELECT DISTINCT l_suppkey*2 AS src, l_partkey*2+1 AS dst FROM lineitem),
        |und AS (SELECT src, dst FROM e UNION SELECT dst AS src, src AS dst FROM e),
        |m AS (SELECT CAST(count(*)//2 AS BIGINT) AS m FROM und),
        |lab AS (SELECT node, node % 2 AS lab FROM (SELECT DISTINCT src AS node FROM und)),
        |l2 AS (SELECT la.lab AS la, lb.lab AS lb FROM und u
        |  JOIN lab la ON u.src = la.node JOIN lab lb ON u.dst = lb.node),
        |per AS (SELECT la, CAST(SUM(CASE WHEN la = lb THEN 1 ELSE 0 END) AS BIGINT) AS mc2,
        |  CAST(count(*) AS BIGINT) AS dc FROM l2 GROUP BY 1),
        |agg AS (SELECT CAST(SUM(2*m.m*mc2 - dc*dc) AS BIGINT) AS num FROM per, m)
        |SELECT m.m AS m_edges, CAST(CASE
        |  WHEN num >= 0 THEN (CAST(num AS HUGEINT)*1000000) // (CAST(m.m AS HUGEINT)*m.m*4)
        |  ELSE -((CAST(-num AS HUGEINT)*1000000) // (CAST(m.m AS HUGEINT)*m.m*4)) END AS BIGINT)
        |  AS modularity_ppm
        |FROM agg, m""".stripMargin,

    // Clustering coefficient: a<b<c triangle enumeration credited to
    // all three vertices; cc_ppm = (2e6*tri) // (deg*(deg-1)).
    "q131_clustering_coeff" ->
      """WITH pe AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e AS (SELECT DISTINCT a.p AS a, b.p AS b
        |  FROM pe a JOIN pe b ON a.o = b.o AND a.p < b.p),
        |deg AS (SELECT n, CAST(count(*) AS BIGINT) AS deg FROM
        |  (SELECT a AS n FROM e UNION ALL SELECT b AS n FROM e) GROUP BY n),
        |tr AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM e e1 JOIN e e2 ON e1.b = e2.a
        |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |tn AS (SELECT n, CAST(count(*) AS BIGINT) AS tri FROM
        |  (SELECT x AS n FROM tr UNION ALL SELECT y AS n FROM tr
        |   UNION ALL SELECT z AS n FROM tr) GROUP BY n)
        |SELECT d.n, d.deg, COALESCE(t.tri, 0) AS tri,
        |  CAST(CASE WHEN d.deg >= 2
        |    THEN (2000000 * COALESCE(t.tri, 0)) // (d.deg * (d.deg - 1))
        |    ELSE 0 END AS BIGINT) AS cc_ppm
        |FROM deg d LEFT JOIN tn t USING (n) ORDER BY n""".stripMargin,

    // Key skew: counts, 2-value totals row, rank over the top-20 only.
    "q132_key_skew" ->
      """WITH c AS (SELECT CAST(user_id AS VARCHAR) AS k,
        |    CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY 1),
        |t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total,
        |    CAST(count(*) AS BIGINT) AS n_keys FROM c),
        |top AS (SELECT k, cnt,
        |    CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, k ASC) AS INTEGER) AS rnk
        |  FROM c ORDER BY cnt DESC, k ASC LIMIT 20)
        |SELECT rnk, k, cnt,
        |  CAST((CAST(cnt AS HUGEINT) * 1000000) // t.total AS BIGINT) AS share_ppm,
        |  CAST((CAST(cnt AS HUGEINT) * t.n_keys * 1000000) // t.total AS BIGINT) AS skew_ppm
        |FROM top, t ORDER BY rnk""".stripMargin,

    // Token rank: global ROW_NUMBER over (cnt DESC, t ASC), per-doc
    // rank sums, mean = integer div.
    "q133_token_rank" ->
      """WITH tok AS (SELECT doc_id,
        |    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS t
        |  FROM documents),
        |v AS (SELECT t, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY 1),
        |r AS (SELECT t,
        |    CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, t ASC) AS BIGINT) AS r FROM v)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(SUM(r.r) AS BIGINT) AS sum_rank,
        |  CAST(SUM(r.r) // count(*) AS BIGINT) AS mean_rank
        |FROM tok JOIN r USING (t) GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Prefix dups: distinct texts, LEAD over the text order, strict
    // startswith confirm on the adjacent pair.
    "q134_prefix_dups" ->
      """WITH base AS (SELECT doc_id, text FROM documents),
        |mut AS (SELECT doc_id + 50000 AS doc_id, substring(text, 1, 40) AS text
        |  FROM base WHERE doc_id % 4 = 0),
        |c AS (SELECT * FROM base UNION ALL SELECT * FROM mut),
        |rep AS (SELECT text AS s, CAST(MIN(doc_id) AS BIGINT) AS id
        |  FROM c WHERE text IS NOT NULL GROUP BY 1),
        |r AS (SELECT id, s, LEAD(id) OVER (ORDER BY s) AS nid,
        |    LEAD(s) OVER (ORDER BY s) AS ns FROM rep)
        |SELECT id AS prefix_id, nid AS full_id,
        |  CAST(length(s) AS BIGINT) AS len_prefix,
        |  CAST(length(ns) AS BIGINT) AS len_full
        |FROM r WHERE ns IS NOT NULL AND length(s) < length(ns)
        |  AND substring(ns, 1, length(s)) = s
        |ORDER BY prefix_id, full_id""".stripMargin,

    // FD audit: (x,y) counts, per-x totals, majority via the rn=1 row
    // of (cnt DESC, y ASC).
    "q135_fd_violations" ->
      """WITH c AS (SELECT CAST(source AS VARCHAR) AS x, CAST(lang AS VARCHAR) AS y,
        |    CAST(count(*) AS BIGINT) AS cnt FROM documents GROUP BY 1, 2),
        |a AS (SELECT x, CAST(SUM(cnt) AS BIGINT) AS n_rows,
        |    CAST(count(*) AS BIGINT) AS n_vals FROM c GROUP BY 1),
        |m AS (SELECT x, y AS majority_val, cnt AS mcnt,
        |    ROW_NUMBER() OVER (PARTITION BY x ORDER BY cnt DESC, y ASC) AS rn FROM c)
        |SELECT a.x, a.n_rows, a.n_vals, m.majority_val,
        |  CAST(a.n_rows - m.mcnt AS BIGINT) AS violation_rows
        |FROM a JOIN m ON a.x = m.x AND m.rn = 1
        |WHERE a.n_vals >= 2 ORDER BY a.x""".stripMargin,

    // Cohesion: |sum v|^2 from per-(label,pos) component sums at the
    // 1e3 quantum, sum |v|^2 from per-row folds, HUGEINT only at ppm.
    "q136_label_cohesion" ->
      """WITH q AS (SELECT label, vec_id, i AS pos,
        |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS q
        |  FROM embeddings, range(1, 65) r(i)),
        |comp AS (SELECT label, CAST(SUM(s * s) AS BIGINT) AS norm2_sum FROM
        |  (SELECT label, pos, CAST(SUM(q) AS BIGINT) AS s FROM q GROUP BY 1, 2)
        |  GROUP BY 1),
        |rw AS (SELECT label, CAST(count(*) AS BIGINT) AS n,
        |    CAST(SUM(n2) AS BIGINT) AS sum_norm2 FROM
        |  (SELECT label, vec_id, SUM(q * q) AS n2 FROM q GROUP BY 1, 2)
        |  GROUP BY 1)
        |SELECT rw.label, rw.n, comp.norm2_sum, rw.sum_norm2,
        |  CASE WHEN rw.sum_norm2 > 0 THEN
        |    CAST((CAST(comp.norm2_sum AS HUGEINT) * 1000000) //
        |      (CAST(rw.n AS HUGEINT) * rw.sum_norm2) AS BIGINT)
        |  END AS cohesion_ppm
        |FROM rw JOIN comp USING (label) ORDER BY label""".stripMargin,

    // Contract checks: three invariant counters over the rotted union.
    "q137_corpus_contract" ->
      """WITH base AS (SELECT doc_id, text, lang, n_chars FROM documents),
        |rot AS (SELECT doc_id + 60000 AS doc_id, substring(text, 1, 25) AS text,
        |    upper(lang) AS lang, n_chars FROM base WHERE doc_id % 5 = 0),
        |c AS (SELECT * FROM base UNION ALL SELECT * FROM rot),
        |f AS (SELECT 'n_chars_matches' AS chk,
        |    CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END AS v FROM c
        |  UNION ALL SELECT 'text_nonempty',
        |    CASE WHEN length(text) = 0 THEN 1 ELSE 0 END FROM c
        |  UNION ALL SELECT 'lang_known',
        |    CASE WHEN lang NOT IN ('en','de','es','fr','zh') THEN 1 ELSE 0 END FROM c)
        |SELECT chk AS "check", CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(v) AS BIGINT) AS violations,
        |  CAST(SUM(v) * 1000000 // count(*) AS BIGINT) AS violation_ppm
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,

    // Calibration: q22's est chain as the candidate set, q24's exact
    // chain as truth (tok is shared), confusion counts off a full join.
    "q138_dedup_calibration" ->
      s"""WITH $minhashCtes,
         |dsh AS (SELECT unnest(list_distinct(list_transform(
         |    list_transform(range(1, len(toks)-1), i -> array_to_string(list_slice(toks, i, i+2), ' ')),
         |    s -> ${dh("s")}))) AS shingle
         |  FROM (SELECT list_filter(string_split(text, ' '), t -> t <> '') AS toks
         |        FROM (SELECT DISTINCT text FROM corpus)) WHERE len(toks) >= 3),
         |stop AS (SELECT shingle FROM dsh GROUP BY shingle HAVING count(*) > $StopShingleDf),
         |sh0 AS (SELECT doc_id, unnest(list_distinct(list_transform(
         |    list_transform(range(1, len(toks)-1), i -> array_to_string(list_slice(toks, i, i+2), ' ')),
         |    s -> ${dh("s")}))) AS shingle
         |  FROM tok WHERE len(toks) >= 3),
         |sh AS (SELECT doc_id, shingle FROM sh0
         |  WHERE shingle NOT IN (SELECT shingle FROM stop)),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2),
         |truth AS (SELECT id_a, id_b
         |  FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
         |  WHERE CAST(n_inter AS DOUBLE)/(sa.n + sb.n - n_inter) >= 0.5),
         |cand AS (SELECT id_a, id_b FROM est),
         |cls AS (SELECT CASE
         |    WHEN c.id_a IS NOT NULL AND t.id_a IS NOT NULL THEN 'tp'
         |    WHEN c.id_a IS NOT NULL THEN 'fp' ELSE 'fn' END AS k
         |  FROM cand c FULL JOIN truth t ON c.id_a = t.id_a AND c.id_b = t.id_b),
         |agg AS (SELECT CAST(SUM(CASE WHEN k = 'tp' THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |  CAST(SUM(CASE WHEN k = 'fp' THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |  CAST(SUM(CASE WHEN k = 'fn' THEN 1 ELSE 0 END) AS BIGINT) AS fn FROM cls)
         |SELECT tp, fp, fn,
         |  CASE WHEN tp + fp > 0 THEN CAST(tp * 1000000 // (tp + fp) AS BIGINT) END AS precision_ppm,
         |  CASE WHEN tp + fn > 0 THEN CAST(tp * 1000000 // (tp + fn) AS BIGINT) END AS recall_ppm
         |FROM agg""".stripMargin,

    // Frequent pairs: presence-distinct baskets, basket-keyed pair
    // join, HUGEINT only in the lift numerator.
    "q129_frequent_pairs" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS basket, l_partkey % 50 AS item FROM lineitem),
        |nb AS (SELECT CAST(count(DISTINCT basket) AS BIGINT) AS n FROM items),
        |ic AS (SELECT item, CAST(count(*) AS BIGINT) AS n_i FROM items GROUP BY 1),
        |p AS (SELECT a.item AS item_a, b.item AS item_b, CAST(count(*) AS BIGINT) AS n_ab
        |  FROM items a JOIN items b ON a.basket = b.basket AND a.item < b.item
        |  GROUP BY 1, 2 HAVING count(*) >= 50)
        |SELECT item_a, item_b, n_ab,
        |  CAST((n_ab * 1000000) // nb.n AS BIGINT) AS support_ppm,
        |  CAST((n_ab * 1000000) // na.n_i AS BIGINT) AS conf_ppm,
        |  CAST((CAST(n_ab AS HUGEINT) * nb.n * 1000000) // (CAST(na.n_i AS HUGEINT) * nbi.n_i) AS BIGINT) AS lift_ppm
        |FROM p JOIN ic na ON p.item_a = na.item
        |  JOIN ic nbi ON p.item_b = nbi.item, nb
        |ORDER BY item_a, item_b""".stripMargin,

    // Quantile normalization: inclusive per-group rank ppm over the
    // compacted counts, global 100-point histogram grid, clamped ceil.
    "q128_quantile_normalize" ->
      """WITH t AS (SELECT lang, doc_id,
        |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS v
        |  FROM documents),
        |counts AS (SELECT lang, v, CAST(count(*) AS BIGINT) AS cnt FROM t GROUP BY 1, 2),
        |pr AS (SELECT lang, v,
        |    CAST((SUM(cnt) OVER (PARTITION BY lang ORDER BY v) * 1000000) // n AS BIGINT) AS pr_ppm
        |  FROM counts JOIN (SELECT lang, CAST(SUM(cnt) AS BIGINT) AS n
        |    FROM counts GROUP BY 1) nn USING (lang)),
        |cells AS (SELECT v // 16 AS bin, CAST(count(*) AS BIGINT) AS cnt FROM t GROUP BY 1),
        |gq AS (SELECT CAST(pct AS BIGINT) AS pct, bin*16 AS v_norm FROM (
        |    SELECT c.bin, c.cnt, c.cum, c.n, p.pct
        |    FROM (SELECT bin, cnt, SUM(cnt) OVER (ORDER BY bin) AS cum,
        |            SUM(cnt) OVER () AS n FROM cells) c
        |    CROSS JOIN (SELECT unnest(range(1, 101)) AS pct) p)
        |  WHERE cum >= (n * pct + 99) // 100 AND cum - cnt < (n * pct + 99) // 100)
        |SELECT t.lang, t.doc_id, t.v, pr.pr_ppm,
        |  CAST(greatest(1, least(100, (pr.pr_ppm + 9999) // 10000)) AS BIGINT) AS pct,
        |  gq.v_norm
        |FROM t JOIN pr USING (lang, v)
        |JOIN gq ON gq.pct = greatest(1, least(100, (pr.pr_ppm + 9999) // 10000))
        |ORDER BY lang, doc_id""".stripMargin,

    // Assortativity: both orientations make the marginals equal, so
    // r = num/den exactly — no sqrt; HUGEINT only for the ppm step.
    "q127_assortativity" ->
      """WITH e AS (SELECT DISTINCT l_suppkey*2 AS src, l_partkey*2+1 AS dst FROM lineitem),
        |und AS (SELECT src, dst FROM e UNION SELECT dst AS src, src AS dst FROM e),
        |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM und GROUP BY 1),
        |p AS (SELECT dx.deg AS x, dy.deg AS y FROM und u
        |  JOIN deg dx ON u.src = dx.src JOIN deg dy ON u.dst = dy.src),
        |mm AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx,
        |  CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(x*y) AS BIGINT) AS sxy,
        |  CAST(SUM(x*x) AS BIGINT) AS sxx FROM p),
        |nm AS (SELECT n, n*sxy - sx*sy AS num, n*sxx - sx*sx AS den FROM mm)
        |SELECT n AS n_dir, CAST(CASE WHEN den = 0 THEN 0
        |  WHEN num >= 0 THEN (CAST(num AS HUGEINT) * 1000000) // CAST(den AS HUGEINT)
        |  ELSE -((CAST(-num AS HUGEINT) * 1000000) // CAST(den AS HUGEINT)) END AS BIGINT)
        |  AS assortativity_ppm
        |FROM nm""".stripMargin,

    // Provenance dedup: group by text, survivor = struct-min over
    // (priority, id, source); the trunc arm mirrors the corpus CTE.
    "q124_provenance_dedup" ->
      """WITH tagged AS (
        |  SELECT 0 AS pri, 'primary' AS src, doc_id, text FROM documents
        |  UNION ALL SELECT 1, 'mirror', doc_id + 10000, text FROM documents
        |  UNION ALL SELECT 2, 'trunc', doc_id + 20000,
        |    array_to_string(list_slice(toks, 1, CAST((len(toks)*3)//5 AS INT)), ' ')
        |   FROM (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM documents)
        |   WHERE doc_id % 5 = 0 AND len(toks) >= 5),
        |g AS (SELECT text, min({'p': pri, 'i': doc_id, 's': src}) AS w,
        |  CAST(count(*) AS BIGINT) AS n_copies,
        |  CAST(count(DISTINCT src) AS BIGINT) AS n_sources
        |  FROM tagged GROUP BY text)
        |SELECT w.s AS source, w.i AS doc_id, n_copies, n_sources FROM g
        |ORDER BY source, doc_id""".stripMargin,

    // Neighbor aggregation: quantize-then-sum in row form; the same
    // deterministic ring+skip graph, self-loops dropped.
    "q123_neighbor_agg" ->
      """WITH e AS (SELECT DISTINCT src, dst FROM (
        |    SELECT vec_id AS src, (vec_id+1) % (SELECT count(*) FROM embeddings) AS dst FROM embeddings
        |    UNION ALL
        |    SELECT vec_id, (vec_id*37+11) % (SELECT count(*) FROM embeddings) FROM embeddings)
        |  WHERE src <> dst),
        |f AS (SELECT vec_id AS src, CAST(i AS BIGINT) AS pos,
        |  CAST(floor(CAST(embedding[CAST(i AS INT)] AS DOUBLE)*1000000) AS BIGINT) AS q
        |  FROM embeddings, unnest(range(1, 65)) t(i))
        |SELECT e.dst AS node, f.pos, CAST(SUM(f.q) AS BIGINT) AS sum_q,
        |  CAST(count(*) AS BIGINT) AS n_in
        |FROM e JOIN f ON e.src = f.src GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // Digest: the same left-to-right polynomial fold, then the four
    // commutative aggregates — any row order gives these exact values.
    "q122_dataset_digest" ->
      """WITH h AS (SELECT l_orderkey % 8 AS shard,
        |  (((((l_orderkey % 1000000007)*31 + (l_partkey % 1000000007)) % 1000000007)*31
        |     + (l_suppkey % 1000000007)) % 1000000007 * 31
        |     + (l_linenumber % 1000000007)) % 1000000007 AS rh
        |  FROM lineitem)
        |SELECT shard, CAST(count(*) AS BIGINT) AS n_rows, bit_xor(rh) AS xor_h,
        |  CAST(SUM(rh) AS BIGINT) AS sum_h, MIN(rh) AS min_h, MAX(rh) AS max_h
        |FROM h GROUP BY 1 ORDER BY 1""".stripMargin,

    // Resample: last-in-bucket by the (ts, event_id) lexicographic key,
    // dense per-user grid, running last-value forward fill.
    "q119_resample_ffill" ->
      """WITH obs AS (
        |  SELECT user_id, bucket, m.v AS v FROM (
        |    SELECT user_id, epoch_us(ts)//21600000000 AS bucket,
        |      max({'u': epoch_us(ts), 't': event_id, 'v': value}) AS m
        |    FROM events GROUP BY 1, 2)),
        |span AS (SELECT user_id, MIN(bucket) AS lo, MAX(bucket) AS hi
        |  FROM obs GROUP BY 1),
        |grid AS (SELECT user_id, CAST(i AS BIGINT) AS bucket
        |  FROM span, unnest(range(lo, hi+1)) t(i)),
        |j AS (SELECT g.user_id, g.bucket, o.v, o.bucket AS ob
        |  FROM grid g LEFT JOIN obs o ON g.user_id = o.user_id AND g.bucket = o.bucket)
        |SELECT user_id, bucket,
        |  last_value(v IGNORE NULLS) OVER win AS v,
        |  bucket - last_value(ob IGNORE NULLS) OVER win AS stale
        |FROM j
        |WINDOW win AS (PARTITION BY user_id ORDER BY bucket
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, bucket""".stripMargin,

    // Salted join: the oracle is the PLAIN equi-join — salting must be
    // output-invisible.
    "q202_salted_join" ->
      """SELECT l.l_orderkey, l.l_linenumber, p.p_partkey, l.l_quantity,
        |  p.p_brand
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |ORDER BY l.l_orderkey, l.l_linenumber, p.p_partkey, l.l_quantity,
        |  p.p_brand""".stripMargin,

    // Quality audit: each check as a scalar violation count, anti-join
    // spelling (never NOT IN — null keys must count as orphans, not
    // poison the predicate).
    "q203_quality_audit" ->
      """SELECT 'fk_lineitem_orders' AS check_name, CAST(count(*) AS BIGINT) AS violations
        |FROM (SELECT DISTINCT l_orderkey AS k FROM lineitem) l
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.k)
        |UNION ALL
        |SELECT 'fk_orders_customer', CAST(count(*) AS BIGINT)
        |FROM (SELECT DISTINCT o_custkey AS k FROM orders) o
        |WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.k)
        |UNION ALL
        |SELECT 'null_orderkey_lineitem', CAST(count(*) AS BIGINT)
        |FROM lineitem WHERE l_orderkey IS NULL
        |UNION ALL
        |SELECT 'pk_dup_lineitem', CAST(count(*) AS BIGINT) FROM (
        |  SELECT 1 FROM lineitem
        |  GROUP BY l_orderkey, l_partkey, l_linenumber HAVING count(*) > 1)
        |ORDER BY check_name""".stripMargin,

    // Scrub: q190's window/hit chain, then cut covered 1-based token
    // indices (p <= i <= p+4) and re-digest the space-rejoined rest.
    "q204_scrub_spans" ->
      s"""WITH tok AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM documents),
         |ev AS (SELECT DISTINCT ${dh("array_to_string(list_slice(toks, i, i + 4), ' ')")} AS g
         |  FROM (SELECT toks, unnest(range(1, len(toks) - 3)) AS i
         |        FROM tok WHERE doc_id % 10 = 0 AND len(toks) >= 5)),
         |win AS (SELECT doc_id, i AS pos,
         |    ${dh("array_to_string(list_slice(toks, i, i + 4), ' ')")} AS h
         |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 3)) AS i
         |        FROM tok WHERE len(toks) >= 5)),
         |hit AS (SELECT doc_id, list_sort(list(DISTINCT pos)) AS ps
         |  FROM win WHERE h IN (SELECT g FROM ev) GROUP BY doc_id),
         |k AS (SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
         |    list_filter(t.toks, (x, i) ->
         |      NOT len(list_filter(COALESCE(h.ps, []), p -> p <= i AND i < p + 5)) > 0) AS kept
         |  FROM tok t LEFT JOIN hit h USING (doc_id) WHERE len(t.toks) >= 1)
         |SELECT doc_id, n_tokens, CAST(len(kept) AS BIGINT) AS n_kept,
         |  CAST(CASE WHEN len(kept) = 0 THEN 0
         |       ELSE ${dh("array_to_string(kept, ' ')")} END AS BIGINT) AS scrub_digest
         |FROM k ORDER BY doc_id""".stripMargin,

    // Mirrors VideoContainers.videoMeta over syntheticVideos: container
    // by id parity, dims/frames by modulus, duration = 40 ms x frames
    // (25 fps in both the AVI avih clock and the MP4 mvhd timescale).
    "q205_video_meta" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'mp4' ELSE 'avi' END AS container,
        |  CAST(doc_id % 16 + 1 AS INTEGER) AS width,
        |  CAST(doc_id % 9 + 1 AS INTEGER) AS height,
        |  CAST(doc_id % 12 + 1 AS BIGINT) AS n_frames,
        |  CAST((doc_id % 12 + 1) * 40 AS BIGINT) AS duration_ms
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Mirrors Multimodal.frameSample over syntheticVideos (every 2nd
    // frame): frame i's byte j = (doc_id*31 + i*7 + j*13) mod 256 over
    // frameLen = doc_id%20+5, folded with the engine's polynomial hash.
    "q206_video_frames" ->
      """SELECT doc_id, CAST(i AS BIGINT) AS frame_idx,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
        |    range(0, doc_id % 20 + 5), j -> (doc_id*31 + i*7 + j*13) % 256)),
        |    (a, x) -> (a*31 + x) % 1000000007) AS frame_hash
        |FROM documents, unnest(range(0, doc_id % 12 + 1)) t(i)
        |WHERE i % 2 = 0
        |ORDER BY doc_id, frame_idx""".stripMargin,

    // Mirrors ZOrder.zValue (bits=8, d=2): bit k of dim i lands at
    // position 2k+i — non-overlapping bits, so a plain SUM respells
    // the bitwise OR.
    "q207_zorder_key" ->
      """SELECT doc_id,
        |  CAST(list_sum(list_transform(range(0, 8), k -> (((doc_id % 256) >> k) & 1) << (2*k)))
        |  + list_sum(list_transform(range(0, 8), k -> (((strlen(text) % 256) >> k) & 1) << (2*k + 1)))
        |  AS BIGINT) AS z
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Mirrors ZOrder.pruningStats (top 4 z bits → 16 buckets).
    "q208_zorder_stats" ->
      """WITH zz AS (SELECT doc_id, doc_id % 256 AS a, strlen(text) % 256 AS b,
        |    CAST(list_sum(list_transform(range(0, 8), k -> (((doc_id % 256) >> k) & 1) << (2*k)))
        |    + list_sum(list_transform(range(0, 8), k -> (((strlen(text) % 256) >> k) & 1) << (2*k + 1)))
        |    AS BIGINT) AS z
        |  FROM documents)
        |SELECT z >> 12 AS bucket, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(min(a) AS BIGINT) AS a_min, CAST(max(a) AS BIGINT) AS a_max,
        |  CAST(min(b) AS BIGINT) AS b_min, CAST(max(b) AS BIGINT) AS b_max
        |FROM zz GROUP BY 1 ORDER BY bucket""".stripMargin,

    // Mirrors Sketches.qsketchCells (subBits=4): e = binary exponent
    // via length(bin(v)), m = v >> max(e-4, 0); v=0 → sentinel (-1, 0).
    "q209_qsketch_cells" ->
      """WITH v AS (SELECT doc_id % 8 AS grp, CAST(strlen(text) AS BIGINT) AS v
        |  FROM documents)
        |SELECT grp,
        |  CAST(CASE WHEN v = 0 THEN -1 ELSE length(bin(v)) - 1 END AS BIGINT) AS e,
        |  CAST(v >> greatest(CASE WHEN v = 0 THEN -1 ELSE length(bin(v)) - 1 END - 4, 0) AS BIGINT) AS m,
        |  CAST(count(*) AS BIGINT) AS cnt
        |FROM v GROUP BY 1, 2, 3 ORDER BY grp, e, m""".stripMargin,

    // Mirrors Sketches.qsketchQuantiles off the same cells: first cell
    // (by (e,m), respelled as the scalar e*32+m — unique since m < 32)
    // whose cumulative count reaches ceil(pct·n/100), cross-multiplied.
    "q210_qsketch_quantiles" ->
      """WITH v AS (SELECT doc_id % 8 AS grp, CAST(strlen(text) AS BIGINT) AS v
        |  FROM documents),
        |c AS (SELECT grp,
        |    CAST(CASE WHEN v = 0 THEN -1 ELSE length(bin(v)) - 1 END AS BIGINT) AS e,
        |    CAST(v >> greatest(CASE WHEN v = 0 THEN -1 ELSE length(bin(v)) - 1 END - 4, 0) AS BIGINT) AS m,
        |    count(*) AS cnt
        |  FROM v GROUP BY 1, 2, 3),
        |w AS (SELECT grp, e, m,
        |    sum(cnt) OVER (PARTITION BY grp ORDER BY e, m) AS cum,
        |    sum(cnt) OVER (PARTITION BY grp) AS n
        |  FROM c),
        |q AS (SELECT grp, pct, max(n) AS n,
        |    min_by(e, e * 32 + m) AS qe, min_by(m, e * 32 + m) AS qm
        |  FROM w, unnest([50, 90, 99]) t(pct)
        |  WHERE cum * 100 >= pct * n
        |  GROUP BY 1, 2)
        |SELECT grp, CAST(pct AS BIGINT) AS pct, CAST(n AS BIGINT) AS n,
        |  CAST(qm << greatest(qe - 4, 0) AS BIGINT) AS est,
        |  CAST(1 << greatest(qe - 4, 0) AS BIGINT) AS width
        |FROM q ORDER BY grp, pct""".stripMargin,

    // q210's pipeline with cnt = sum(n_chars) instead of count(*).
    "q211_qsketch_weighted" ->
      """WITH v AS (SELECT doc_id % 4 AS grp, CAST(strlen(text) AS BIGINT) AS v,
        |    CAST(n_chars AS BIGINT) AS w
        |  FROM documents),
        |c AS (SELECT grp,
        |    CAST(CASE WHEN v = 0 THEN -1 ELSE length(bin(v)) - 1 END AS BIGINT) AS e,
        |    CAST(v >> greatest(CASE WHEN v = 0 THEN -1 ELSE length(bin(v)) - 1 END - 4, 0) AS BIGINT) AS m,
        |    sum(w) AS cnt
        |  FROM v GROUP BY 1, 2, 3),
        |w AS (SELECT grp, e, m,
        |    sum(cnt) OVER (PARTITION BY grp ORDER BY e, m) AS cum,
        |    sum(cnt) OVER (PARTITION BY grp) AS n
        |  FROM c),
        |q AS (SELECT grp, pct, max(n) AS n,
        |    min_by(e, e * 32 + m) AS qe, min_by(m, e * 32 + m) AS qm
        |  FROM w, unnest([50, 90, 99]) t(pct)
        |  WHERE cum * 100 >= pct * n
        |  GROUP BY 1, 2)
        |SELECT grp, CAST(pct AS BIGINT) AS pct, CAST(n AS BIGINT) AS n,
        |  CAST(qm << greatest(qe - 4, 0) AS BIGINT) AS est,
        |  CAST(1 << greatest(qe - 4, 0) AS BIGINT) AS width
        |FROM q ORDER BY grp, pct""".stripMargin,

    // Mirrors TextDedup.selfScrub over the clone+trunc corpus: keep
    // the minimal doc_id*2^22+pos occurrence per duplicated window,
    // cut every later one, re-digest (q204's scrub tail verbatim).
    "q212_self_scrub" -> selfScrubSql,

    // The incremental composition must land exactly on the one-shot
    // answer — same corpus, same SQL.
    "q220_self_scrub_inc" -> selfScrubSql,

    // Mirrors Profiler.lDiversityAudit: QI class sizes + exact distinct
    // sensitive values per class, below-l rollup.
    "q221_l_diversity" ->
      """WITH g AS (SELECT c_nationkey, c_mktsegment,
        |    CAST(count(*) AS BIGINT) AS sz,
        |    CAST(count(DISTINCT c_acctbal) AS BIGINT) AS lv
        |  FROM customer GROUP BY 1, 2)
        |SELECT CAST(10 AS BIGINT) AS l_threshold,
        |  CAST(count(*) AS BIGINT) AS n_groups,
        |  CAST(SUM(sz) AS BIGINT) AS n_rows,
        |  CAST(SUM(CASE WHEN lv < 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_groups_below,
        |  CAST(SUM(CASE WHEN lv < 10 THEN sz ELSE 0 END) AS BIGINT) AS n_rows_at_risk,
        |  CAST(MIN(lv) AS BIGINT) AS min_l
        |FROM g""".stripMargin,

    // Mirrors TermStats.charGramConcentration (n=3): trigrams ride the
    // polynomial hash, Simpson = Σc²·10⁶ // n² exact in HUGEINT.
    "q222_chargram_conc" ->
      s"""WITH p AS (SELECT doc_id, text, unnest(range(1, len(text) - 1)) AS i
         |    FROM documents WHERE len(text) >= 3),
         |c AS (SELECT doc_id, ${dh("substring(text, i, 3)")} AS g,
         |    CAST(count(*) AS BIGINT) AS c
         |  FROM p GROUP BY 1, 2),
         |a AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_grams,
         |    CAST(count(*) AS BIGINT) AS n_distinct,
         |    SUM(CAST(c AS HUGEINT) * c) AS ss
         |  FROM c GROUP BY 1)
         |SELECT doc_id, n_grams, n_distinct,
         |  CAST((ss * 1000000) // (CAST(n_grams AS HUGEINT) * n_grams) AS BIGINT)
         |    AS concentration_ppm,
         |  CAST((CAST(n_distinct AS HUGEINT) * 1000000) // n_grams AS BIGINT)
         |    AS distinct_ppm
         |FROM a ORDER BY doc_id""".stripMargin,

    // Mirrors Behavior.kendallGradePpm (B=100): q175's grade tables,
    // then C−D exact on the grade grid via the same two bounded window
    // sweeps; τ-b² on doubled denominators, two-step floor division.
    "q223_kendall_grade" ->
      """WITH b AS (SELECT event_type AS g, CAST(floor(epoch(ts)) AS BIGINT) AS x,
        |    CAST(floor(value * 1000) AS BIGINT) AS y FROM events),
        |cx AS (SELECT g, x, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1, 2),
        |gx AS (SELECT g, x, (100 * (2 * SUM(c) OVER (PARTITION BY g ORDER BY x) - c))
        |      // (2 * SUM(c) OVER (PARTITION BY g)) AS gx FROM cx),
        |cy AS (SELECT g, y, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1, 2),
        |gy AS (SELECT g, y, (100 * (2 * SUM(c) OVER (PARTITION BY g ORDER BY y) - c))
        |      // (2 * SUM(c) OVER (PARTITION BY g)) AS gy FROM cy),
        |j AS (SELECT b.g, gx.gx, gy.gy FROM b
        |  JOIN gx ON gx.g = b.g AND gx.x = b.x
        |  JOIN gy ON gy.g = b.g AND gy.y = b.y),
        |cells AS (SELECT g, gx, gy, CAST(count(*) AS BIGINT) AS c FROM j GROUP BY 1, 2, 3),
        |dense AS (SELECT xs.g, xs.gx, ys.gy, COALESCE(cells.c, 0) AS c
        |  FROM (SELECT DISTINCT g, gx FROM cells) xs
        |  JOIN (SELECT DISTINCT g, gy FROM cells) ys ON ys.g = xs.g
        |  LEFT JOIN cells ON cells.g = xs.g AND cells.gx = xs.gx AND cells.gy = ys.gy),
        |s1 AS (SELECT g, gx, gy, c, COALESCE(SUM(c) OVER (PARTITION BY g, gy ORDER BY gx
        |    ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), 0) AS sgt FROM dense),
        |s2 AS (SELECT g, gx, gy, c,
        |    COALESCE(SUM(sgt) OVER (PARTITION BY g, gx ORDER BY gy
        |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), 0) AS spp,
        |    COALESCE(SUM(sgt) OVER (PARTITION BY g, gx ORDER BY gy
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS spm
        |  FROM s1),
        |numt AS (SELECT g, SUM(CAST(c AS HUGEINT) * spp) - SUM(CAST(c AS HUGEINT) * spm) AS num
        |  FROM s2 GROUP BY 1),
        |tx AS (SELECT g, SUM(CAST(t AS HUGEINT) * (t - 1)) AS tx FROM
        |  (SELECT g, gx, SUM(c) AS t FROM cells GROUP BY 1, 2) GROUP BY 1),
        |ty AS (SELECT g, SUM(CAST(t AS HUGEINT) * (t - 1)) AS ty FROM
        |  (SELECT g, gy, SUM(c) AS t FROM cells GROUP BY 1, 2) GROUP BY 1),
        |tot AS (SELECT g, CAST(SUM(c) AS BIGINT) AS n FROM cells GROUP BY 1),
        |d AS (SELECT tot.g, n, num,
        |    CAST(n AS HUGEINT) * (n - 1) - tx.tx AS dx,
        |    CAST(n AS HUGEINT) * (n - 1) - ty.ty AS dy
        |  FROM tot JOIN numt ON numt.g = tot.g
        |  JOIN tx ON tx.g = tot.g JOIN ty ON ty.g = tot.g)
        |SELECT g AS event_type, n AS n_points,
        |  CAST(CASE WHEN dx = 0 OR dy = 0 THEN 0
        |       WHEN num >= 0 THEN (((num * num * 4) // dx) * 1000000) // dy
        |       ELSE -((((num * num * 4) // dx) * 1000000) // dy) END AS BIGINT)
        |    AS kendall_tau2_signed_ppm
        |FROM d ORDER BY event_type""".stripMargin,

    // Mirrors Profiler.tClosenessAudit: equal-width sign-split bins,
    // densified class×bin grid, exact integer EMD vs the global
    // distribution, above-t rollup.
    "q224_t_closeness" ->
      """WITH base AS (SELECT c_nationkey, c_mktsegment,
        |    CAST(floor(c_acctbal * 100) AS BIGINT) AS v FROM customer),
        |cells AS (SELECT c_nationkey, c_mktsegment, b, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT c_nationkey, c_mktsegment,
        |      CASE WHEN v >= 0 THEN v // 50000
        |           ELSE -(((-v) + 49999) // 50000) END AS b FROM base)
        |  GROUP BY 1, 2, 3),
        |g AS (SELECT b, CAST(SUM(c) AS BIGINT) AS cg FROM cells GROUP BY 1),
        |gc AS (SELECT b, SUM(cg) OVER (ORDER BY b) AS cumg FROM g),
        |gt AS (SELECT CAST(SUM(cg) AS BIGINT) AS ng, CAST(count(*) AS BIGINT) AS m FROM g),
        |cls AS (SELECT c_nationkey, c_mktsegment, CAST(SUM(c) AS BIGINT) AS nc
        |  FROM cells GROUP BY 1, 2),
        |dense AS (SELECT cls.c_nationkey, cls.c_mktsegment, cls.nc, gc.b, gc.cumg,
        |    COALESCE(cells.c, 0) AS c
        |  FROM cls CROSS JOIN gc
        |  LEFT JOIN cells ON cells.c_nationkey = cls.c_nationkey
        |    AND cells.c_mktsegment = cls.c_mktsegment AND cells.b = gc.b),
        |cum AS (SELECT c_nationkey, c_mktsegment, nc, cumg,
        |    SUM(c) OVER (PARTITION BY c_nationkey, c_mktsegment ORDER BY b) AS cumc
        |  FROM dense),
        |emd AS (SELECT c_nationkey, c_mktsegment, nc,
        |    CASE WHEN m = 1 THEN 0
        |         ELSE (SUM(ABS(CAST(cumc AS HUGEINT) * ng - CAST(cumg AS HUGEINT) * nc))
        |               * 1000000) // (CAST(m - 1 AS HUGEINT) * nc * ng) END AS e
        |  FROM cum CROSS JOIN gt GROUP BY c_nationkey, c_mktsegment, nc, m, ng)
        |SELECT CAST(250000 AS BIGINT) AS t_ppm,
        |  (SELECT CAST(m AS BIGINT) FROM gt) AS n_buckets,
        |  CAST(count(*) AS BIGINT) AS n_groups,
        |  CAST(SUM(nc) AS BIGINT) AS n_rows,
        |  CAST(SUM(CASE WHEN e > 250000 THEN 1 ELSE 0 END) AS BIGINT) AS n_groups_above,
        |  CAST(SUM(CASE WHEN e > 250000 THEN nc ELSE 0 END) AS BIGINT) AS n_rows_at_risk,
        |  CAST(MAX(e) AS BIGINT) AS max_emd_ppm
        |FROM emd""".stripMargin,

    // Mirrors Similarity.matryoshkaRecall: truncated-cosine top-3 per
    // width vs the full-width truth, micro-averaged per width.
    "q225_matryoshka" -> {
      val per = Seq(8, 16, 32, 64).map { d =>
        s"""SELECT CAST($d AS BIGINT) AS dims, query_id, neighbor_id FROM (
           |  SELECT query_id, neighbor_id, ROW_NUMBER() OVER (PARTITION BY query_id
           |    ORDER BY ${cosSqlD("qe", "ce", d)} DESC, neighbor_id ASC) AS rnk FROM pr)
           |  WHERE rnk <= 3""".stripMargin
      }.mkString("\n  UNION ALL\n")
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 20),
         |c AS (SELECT vec_id AS neighbor_id, embedding AS ce FROM embeddings),
         |pr AS (SELECT query_id, neighbor_id, qe, ce FROM q, c WHERE neighbor_id <> query_id),
         |tr AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id, ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY ${cosSqlD("qe", "ce", 64)} DESC, neighbor_id ASC) AS rnk FROM pr)
         |  WHERE rnk <= 3),
         |ap AS ($per),
         |ht AS (SELECT dims, CAST(count(*) AS BIGINT) AS n_hit
         |  FROM ap JOIN tr USING (query_id, neighbor_id) GROUP BY 1),
         |dn AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM tr),
         |dm AS (SELECT CAST(unnest([8, 16, 32, 64]) AS BIGINT) AS dims)
         |SELECT dm.dims, dn.n_truth,
         |  CAST(COALESCE(ht.n_hit, 0) AS BIGINT) AS n_hit,
         |  CAST(CASE WHEN dn.n_truth = 0 THEN 0
         |       ELSE COALESCE(ht.n_hit, 0) * 1000000 // dn.n_truth END AS BIGINT)
         |    AS recall_ppm
         |FROM dm CROSS JOIN dn LEFT JOIN ht ON ht.dims = dm.dims
         |ORDER BY dm.dims""".stripMargin
    },

    // Mirrors Profiler.ksStatPpm: pooled distinct values per pair,
    // cum windows, D = max |cumA·nB − cumB·nA|, one floor division.
    "q231_ks_drift" ->
      """WITH c AS (SELECT source AS g, n_chars AS v, CAST(count(*) AS BIGINT) AS cnt
        |  FROM documents GROUP BY 1, 2),
        |t AS (SELECT g, CAST(SUM(cnt) AS BIGINT) AS n FROM c GROUP BY 1),
        |pr AS (SELECT a.g AS g_a, b.g AS g_b
        |  FROM (SELECT DISTINCT g FROM c) a, (SELECT DISTINCT g FROM c) b
        |  WHERE a.g < b.g),
        |pv AS (SELECT DISTINCT g_a, g_b, v FROM (
        |  SELECT pr.g_a, pr.g_b, c.v FROM pr JOIN c ON c.g = pr.g_a
        |  UNION ALL SELECT pr.g_a, pr.g_b, c.v FROM pr JOIN c ON c.g = pr.g_b)),
        |cum AS (SELECT pv.g_a, pv.g_b, pv.v,
        |    SUM(COALESCE(ca.cnt, 0)) OVER (PARTITION BY pv.g_a, pv.g_b ORDER BY pv.v) AS cuma,
        |    SUM(COALESCE(cb.cnt, 0)) OVER (PARTITION BY pv.g_a, pv.g_b ORDER BY pv.v) AS cumb
        |  FROM pv LEFT JOIN c ca ON ca.g = pv.g_a AND ca.v = pv.v
        |          LEFT JOIN c cb ON cb.g = pv.g_b AND cb.v = pv.v),
        |d AS (SELECT cum.g_a, cum.g_b, ta.n AS na, tb.n AS nb,
        |    MAX(ABS(CAST(cuma AS HUGEINT) * tb.n - CAST(cumb AS HUGEINT) * ta.n)) AS dd
        |  FROM cum JOIN t ta ON ta.g = cum.g_a JOIN t tb ON tb.g = cum.g_b
        |  GROUP BY 1, 2, 3, 4)
        |SELECT g_a, g_b, na AS n_a, nb AS n_b,
        |  CAST((dd * 1000000) // (CAST(na AS HUGEINT) * nb) AS BIGINT) AS ks_ppm
        |FROM d ORDER BY g_a, g_b""".stripMargin,

    // Mirrors Profiler.ksStatFromCells over the same qsketch cell
    // build as q209 (subBits=4, grouped by source on n_chars): pooled
    // distinct CELLS per pair, cum windows in (e, m) order, the q231
    // cross-multiplied max gap.
    "q232_ks_cells" ->
      s"""WITH $docCellsCte,
         |t AS (SELECT g, CAST(SUM(cnt) AS BIGINT) AS n FROM cells GROUP BY 1),
         |pr AS (SELECT a.g AS g_a, b.g AS g_b
         |  FROM (SELECT DISTINCT g FROM cells) a, (SELECT DISTINCT g FROM cells) b
         |  WHERE a.g < b.g),
         |pv AS (SELECT DISTINCT g_a, g_b, e, m FROM (
         |  SELECT pr.g_a, pr.g_b, c.e, c.m FROM pr JOIN cells c ON c.g = pr.g_a
         |  UNION ALL SELECT pr.g_a, pr.g_b, c.e, c.m FROM pr JOIN cells c ON c.g = pr.g_b)),
         |cum AS (SELECT pv.g_a, pv.g_b, pv.e, pv.m,
         |    SUM(COALESCE(ca.cnt, 0)) OVER (PARTITION BY pv.g_a, pv.g_b ORDER BY pv.e, pv.m) AS cuma,
         |    SUM(COALESCE(cb.cnt, 0)) OVER (PARTITION BY pv.g_a, pv.g_b ORDER BY pv.e, pv.m) AS cumb
         |  FROM pv LEFT JOIN cells ca ON ca.g = pv.g_a AND ca.e = pv.e AND ca.m = pv.m
         |          LEFT JOIN cells cb ON cb.g = pv.g_b AND cb.e = pv.e AND cb.m = pv.m),
         |d AS (SELECT cum.g_a, cum.g_b, ta.n AS na, tb.n AS nb,
         |    MAX(ABS(CAST(cuma AS HUGEINT) * tb.n - CAST(cumb AS HUGEINT) * ta.n)) AS dd
         |  FROM cum JOIN t ta ON ta.g = cum.g_a JOIN t tb ON tb.g = cum.g_b
         |  GROUP BY 1, 2, 3, 4)
         |SELECT g_a, g_b, na AS n_a, nb AS n_b,
         |  CAST((dd * 1000000) // (CAST(na AS HUGEINT) * nb) AS BIGINT) AS ks_ppm
         |FROM d ORDER BY g_a, g_b""".stripMargin,

    // Mirrors Behavior.cusumSeries over daily event counts: the
    // prefix identity S_t = cum - min(0, running min) for both
    // one-sided statistics, ref 66, threshold 25.
    "q237_cusum" ->
      """WITH dc AS (SELECT event_type,
        |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS t,
        |    CAST(count(*) AS BIGINT) AS v
        |  FROM events GROUP BY 1, 2),
        |c AS (SELECT event_type, t, v,
        |    SUM(v - 66) OVER (PARTITION BY event_type ORDER BY t) AS cum
        |  FROM dc),
        |mm AS (SELECT event_type, t, v, cum,
        |    least(0, min(cum) OVER (PARTITION BY event_type ORDER BY t)) AS mn,
        |    greatest(0, max(cum) OVER (PARTITION BY event_type ORDER BY t)) AS mx
        |  FROM c)
        |SELECT event_type, t, v,
        |  CAST(cum - mn AS BIGINT) AS s_pos,
        |  CAST(mx - cum AS BIGINT) AS s_neg,
        |  CAST(cum - mn > 25 OR mx - cum > 25 AS BIGINT) AS alarm
        |FROM mm ORDER BY event_type, t""".stripMargin,

    // Mirrors Profiler.aucFromCells: doubled-U fold over the pooled
    // cells, ties half-weighted via 2·cumB − cb.
    "q238_auc_cells" ->
      s"""WITH $docCellsCte,
         |t AS (SELECT g, CAST(SUM(cnt) AS BIGINT) AS n FROM cells GROUP BY 1),
         |pr AS (SELECT a.g AS g_a, b.g AS g_b
         |  FROM (SELECT DISTINCT g FROM cells) a, (SELECT DISTINCT g FROM cells) b
         |  WHERE a.g < b.g),
         |pv AS (SELECT DISTINCT g_a, g_b, e, m FROM (
         |  SELECT pr.g_a, pr.g_b, c.e, c.m FROM pr JOIN cells c ON c.g = pr.g_a
         |  UNION ALL SELECT pr.g_a, pr.g_b, c.e, c.m FROM pr JOIN cells c ON c.g = pr.g_b)),
         |cum AS (SELECT pv.g_a, pv.g_b, pv.e, pv.m,
         |    COALESCE(ca.cnt, 0) AS ca, COALESCE(cb.cnt, 0) AS cb,
         |    SUM(COALESCE(cb.cnt, 0)) OVER (PARTITION BY pv.g_a, pv.g_b ORDER BY pv.e, pv.m) AS cumb
         |  FROM pv LEFT JOIN cells ca ON ca.g = pv.g_a AND ca.e = pv.e AND ca.m = pv.m
         |          LEFT JOIN cells cb ON cb.g = pv.g_b AND cb.e = pv.e AND cb.m = pv.m),
         |u AS (SELECT g_a, g_b, SUM(CAST(ca AS HUGEINT) * (2 * cumb - cb)) AS u2
         |  FROM cum GROUP BY 1, 2)
         |SELECT u.g_a, u.g_b, ta.n AS n_a, tb.n AS n_b,
         |  CAST((u2 * 1000000) // (2 * CAST(ta.n AS HUGEINT) * tb.n) AS BIGINT) AS auc_ab_ppm
         |FROM u JOIN t ta ON ta.g = u.g_a JOIN t tb ON tb.g = u.g_b
         |ORDER BY g_a, g_b""".stripMargin,

    // Mirrors Profiler.chi2FromCells: per-cell (ca·nb − cb·na)² floor-
    // divided by the pooled cell mass, then the x1000 two-step fold.
    "q239_chi2_cells" ->
      s"""WITH $docCellsCte,
         |t AS (SELECT g, CAST(SUM(cnt) AS BIGINT) AS n FROM cells GROUP BY 1),
         |pr AS (SELECT a.g AS g_a, b.g AS g_b
         |  FROM (SELECT DISTINCT g FROM cells) a, (SELECT DISTINCT g FROM cells) b
         |  WHERE a.g < b.g),
         |pv AS (SELECT DISTINCT g_a, g_b, e, m FROM (
         |  SELECT pr.g_a, pr.g_b, c.e, c.m FROM pr JOIN cells c ON c.g = pr.g_a
         |  UNION ALL SELECT pr.g_a, pr.g_b, c.e, c.m FROM pr JOIN cells c ON c.g = pr.g_b)),
         |cc AS (SELECT pv.g_a, pv.g_b,
         |    COALESCE(ca.cnt, 0) AS ca, COALESCE(cb.cnt, 0) AS cb
         |  FROM pv LEFT JOIN cells ca ON ca.g = pv.g_a AND ca.e = pv.e AND ca.m = pv.m
         |          LEFT JOIN cells cb ON cb.g = pv.g_b AND cb.e = pv.e AND cb.m = pv.m),
         |s AS (SELECT cc.g_a, cc.g_b, ta.n AS na, tb.n AS nb,
         |    COUNT(*) AS cells,
         |    SUM((CAST(ca AS HUGEINT) * tb.n - CAST(cb AS HUGEINT) * ta.n)
         |      * (CAST(ca AS HUGEINT) * tb.n - CAST(cb AS HUGEINT) * ta.n)
         |      // (ca + cb)) AS ss
         |  FROM cc JOIN t ta ON ta.g = cc.g_a JOIN t tb ON tb.g = cc.g_b
         |  GROUP BY 1, 2, 3, 4)
         |SELECT g_a, g_b, na AS n_a, nb AS n_b,
         |  CAST(cells - 1 AS BIGINT) AS dof,
         |  CAST((ss * 1000) // (CAST(na AS HUGEINT) * nb) AS BIGINT) AS chi2_milli
         |FROM s ORDER BY g_a, g_b""".stripMargin,

    // Mirrors EvalMetrics.retrievalMetrics over the activity ranking:
    // per-hit precision floors first, the AP mean floors second.
    "q240_retrieval_eval" ->
      """WITH cnt AS (SELECT event_type, user_id, count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |res AS (SELECT event_type, user_id,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY c DESC, user_id) AS BIGINT) AS r
        |  FROM cnt QUALIFY r <= 10),
        |rel AS (SELECT DISTINCT event_type, user_id FROM events
        |  WHERE value >= 80),
        |nrel AS (SELECT event_type, CAST(count(*) AS BIGINT) AS nrel
        |  FROM rel GROUP BY 1),
        |hits AS (SELECT res.event_type, res.r,
        |    count(*) OVER (PARTITION BY res.event_type ORDER BY res.r) AS h
        |  FROM res JOIN rel USING (event_type, user_id)),
        |hq AS (SELECT event_type, CAST(count(*) AS BIGINT) AS nhit,
        |    min(r) AS fr, SUM((h * 1000000) // r) AS apsum
        |  FROM hits GROUP BY 1)
        |SELECT q.event_type, COALESCE(nrel, 0) AS n_rel,
        |  COALESCE(nhit, 0) AS n_hits,
        |  CAST(COALESCE(1000000 // fr, 0) AS BIGINT) AS rr_ppm,
        |  CAST(COALESCE((nhit * 1000000) // 10, 0) AS BIGINT) AS p_at_k_ppm,
        |  CAST(COALESCE((nhit * 1000000) // nrel, 0) AS BIGINT) AS r_at_k_ppm,
        |  CAST(COALESCE(apsum // least(nrel, 10), 0) AS BIGINT) AS ap_ppm
        |FROM (SELECT DISTINCT event_type FROM res) q
        |LEFT JOIN nrel USING (event_type) LEFT JOIN hq USING (event_type)
        |ORDER BY event_type""".stripMargin,

    // Mirrors EvalMetrics.ndcgAtK: the SAME pinned discount integers
    // (ndcgDiscount inlined as literals — no engine float math), gains
    // (1 << g) - 1, ideal ranking via row_number over grade desc (equal
    // grades interchange, so the arbitrary tie order is value-exact).
    "q243_ndcg" -> {
      val disc = graft.ops.EvalMetrics.ndcgDiscount(10)
        .zipWithIndex.map { case (w, i) => s"(${i + 1}, ${w}::BIGINT)" }
        .mkString(", ")
      s"""WITH cnt AS (SELECT event_type, user_id, count(*) AS c
         |  FROM events GROUP BY 1, 2),
         |res AS (SELECT event_type, user_id,
         |    CAST(row_number() OVER (PARTITION BY event_type
         |      ORDER BY c DESC, user_id) AS BIGINT) AS r
         |  FROM cnt QUALIFY r <= 10),
         |gr AS (SELECT event_type, user_id,
         |    CAST(least(count(*), 4) AS BIGINT) AS g
         |  FROM events WHERE value >= 80 GROUP BY 1, 2),
         |disc(i, w) AS (VALUES $disc),
         |dcg AS (SELECT res.event_type,
         |    SUM(((1::BIGINT << gr.g) - 1) * disc.w) AS dcg
         |  FROM res JOIN gr USING (event_type, user_id)
         |  JOIN disc ON disc.i = res.r GROUP BY 1),
         |ideal AS (SELECT event_type, g,
         |    row_number() OVER (PARTITION BY event_type ORDER BY g DESC) AS ir
         |  FROM gr),
         |idcg AS (SELECT event_type,
         |    SUM(((1::BIGINT << g) - 1) * disc.w) AS idcg
         |  FROM ideal JOIN disc ON disc.i = ideal.ir
         |  WHERE ir <= 10 GROUP BY 1),
         |ng AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_graded
         |  FROM gr GROUP BY 1)
         |SELECT q.event_type, COALESCE(n_graded, 0) AS n_graded,
         |  CAST(COALESCE(dcg, 0) AS BIGINT) AS dcg_q,
         |  CAST(COALESCE(idcg, 0) AS BIGINT) AS idcg_q,
         |  CAST(COALESCE(CASE WHEN idcg > 0
         |    THEN (CAST(COALESCE(dcg, 0) AS HUGEINT) * 1000000) // idcg END,
         |    0) AS BIGINT) AS ndcg_ppm
         |FROM (SELECT DISTINCT event_type FROM res) q
         |LEFT JOIN ng USING (event_type) LEFT JOIN dcg USING (event_type)
         |LEFT JOIN idcg USING (event_type)
         |ORDER BY event_type""".stripMargin
    },

    // Mirrors Behavior.theilSenSlope on the q237 daily series: DuckDB's
    // // TRUNCATES toward zero, so the slope's FLOOR division is spelled
    // with the same sign-split CASE as the Spark side; lower-median rank
    // picks on the compacted slope / intercept domains.
    "q241_theil_sen" ->
      """WITH dc AS (SELECT event_type AS g,
        |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS t,
        |    CAST(count(*) AS BIGINT) AS v
        |  FROM events GROUP BY 1, 2),
        |np AS (SELECT g, CAST(count(*) AS BIGINT) AS n_points FROM dc GROUP BY 1),
        |pr AS (SELECT a.g,
        |    CASE WHEN b.v >= a.v THEN ((b.v - a.v) * 1000000) // (b.t - a.t)
        |         ELSE -(((a.v - b.v) * 1000000 + (b.t - a.t) - 1) // (b.t - a.t))
        |    END AS s
        |  FROM dc a JOIN dc b ON a.g = b.g AND a.t < b.t),
        |ag AS (SELECT g, s, count(*) AS c FROM pr GROUP BY 1, 2),
        |cm AS (SELECT g, s, c, SUM(c) OVER (PARTITION BY g ORDER BY s) AS cum,
        |    SUM(c) OVER (PARTITION BY g) AS p FROM ag),
        |sl AS (SELECT g, CAST(p AS BIGINT) AS n_pairs, s AS slope FROM cm
        |  WHERE cum >= (p + 1) // 2 AND cum - c < (p + 1) // 2),
        |ic AS (SELECT sl.g, sl.n_pairs, sl.slope,
        |    dc.v * 1000000 - sl.slope * dc.t AS i
        |  FROM sl JOIN dc ON dc.g = sl.g),
        |ia AS (SELECT g, n_pairs, slope, i, count(*) AS c
        |  FROM ic GROUP BY 1, 2, 3, 4),
        |im AS (SELECT g, n_pairs, slope, i, c,
        |    SUM(c) OVER (PARTITION BY g ORDER BY i) AS cum FROM ia)
        |SELECT im.g AS event_type, np.n_points, im.n_pairs,
        |  CAST(im.slope AS BIGINT) AS slope_ppm,
        |  CAST(im.i AS BIGINT) AS intercept_ppm
        |FROM im JOIN np ON np.g = im.g
        |WHERE cum >= (n_points + 1) // 2 AND cum - c < (n_points + 1) // 2
        |ORDER BY event_type""".stripMargin,

    // Mirrors Profiler.bootstrapCi: the polyhash of id#rep cut against
    // the exact integer Poisson(1) CDF thresholds, floor-ppm replicate
    // means, [ceil(0.05R), ceil(0.95R)] rank picks.
    "q242_bootstrap_ci" ->
      s"""WITH base AS (SELECT source AS g, CAST(doc_id AS VARCHAR) AS id,
         |    CAST(n_chars AS BIGINT) AS v FROM documents),
         |rw AS (SELECT g, v, r,
         |    ${dh("id || '#' || CAST(r AS VARCHAR)")} AS h
         |  FROM base, (SELECT unnest(range(0, 50)) AS r)),
         |w AS (SELECT g, r, v,
         |    CASE WHEN h < 367879443 THEN 0 WHEN h < 735758887 THEN 1
         |         WHEN h < 919698609 THEN 2 WHEN h < 981011849 THEN 3
         |         WHEN h < 996340160 THEN 4 ELSE 5 END AS wt
         |  FROM rw),
         |rm AS (SELECT g, r, CASE WHEN SUM(wt) = 0 THEN 0
         |    ELSE (SUM(wt * v) * 1000000) // SUM(wt) END AS m
         |  FROM w GROUP BY 1, 2),
         |cm AS (SELECT g, m, count(*) AS c FROM rm GROUP BY 1, 2),
         |cc AS (SELECT g, m, SUM(c) OVER (PARTITION BY g ORDER BY m) AS cum
         |  FROM cm),
         |band AS (SELECT g, min(CASE WHEN cum >= 3 THEN m END) AS lo,
         |    min(CASE WHEN cum >= 48 THEN m END) AS hi
         |  FROM cc GROUP BY 1),
         |pt AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
         |    (SUM(v) * 1000000) // count(*) AS mean FROM base GROUP BY 1)
         |SELECT pt.g AS source, pt.n,
         |  CAST(pt.mean AS BIGINT) AS mean_ppm,
         |  CAST(band.lo AS BIGINT) AS lo_ppm, CAST(band.hi AS BIGINT) AS hi_ppm
         |FROM pt JOIN band ON band.g = pt.g
         |ORDER BY source""".stripMargin,

    // Mirrors Curation.prioritySample (k=8): p = w·(1e9+7) // (h+1),
    // top-8 per source by (p DESC, id ASC), est = max(w, 9th priority).
    "q244_priority_sample" ->
      s"""WITH base AS (SELECT source AS g, doc_id AS id,
         |    CAST(n_chars AS BIGINT) AS w FROM documents),
         |p AS (SELECT g, id, w,
         |    (w * 1000000007) // (${dh("CAST(id AS VARCHAR)")} + 1) AS pr
         |  FROM base),
         |r AS (SELECT g, id, w, pr,
         |    row_number() OVER (PARTITION BY g ORDER BY pr DESC, id ASC) AS rn
         |  FROM p),
         |tau AS (SELECT g, max(CASE WHEN rn = 9 THEN pr END) AS t
         |  FROM r WHERE rn <= 9 GROUP BY g)
         |SELECT r.g AS source, r.id, r.w AS weight, r.pr AS priority,
         |  greatest(r.w, coalesce(tau.t, 0)) AS est_weight
         |FROM r JOIN tau ON tau.g = r.g WHERE r.rn <= 8
         |ORDER BY source, id""".stripMargin,

    // Mirrors Curation.ablateGroups on doc length: one (sum, count)
    // per source, the global fold attached, floor // everywhere
    // (values are positive, so // IS the sign-split floor).
    "q245_source_ablation" ->
      """WITH per AS (SELECT source AS g, CAST(count(*) AS BIGINT) AS n,
        |    SUM(CAST(n_chars AS BIGINT)) AS s FROM documents GROUP BY 1),
        |tot AS (SELECT SUM(n) AS tn, SUM(s) AS ts FROM per)
        |SELECT per.g AS source, per.n,
        |  CAST((per.s * 1000000) // per.n AS BIGINT) AS group_mean_ppm,
        |  CAST((tot.ts * 1000000) // tot.tn AS BIGINT) AS overall_mean_ppm,
        |  CAST(((tot.ts - per.s) * 1000000) // (tot.tn - per.n) AS BIGINT)
        |    AS loo_mean_ppm,
        |  CAST(((tot.ts - per.s) * 1000000) // (tot.tn - per.n)
        |    - (tot.ts * 1000000) // tot.tn AS BIGINT) AS delta_ppm
        |FROM per, tot ORDER BY source""".stripMargin,

    // Mirrors Profiler.entropyScan over the md5-augmented corpus: the
    // pinned ⌊log₂·10⁶⌋ table is inlined as literals (X208 discipline),
    // H_ppm = (Σ c·(L[n]−L[c])) // n over printable-ASCII tokens ≥ 16.
    "q246_entropy_scan" ->
      s"""WITH aug AS (SELECT doc_id, text || ' ' || md5(text) ||
         |    CASE WHEN doc_id % 5 = 0 THEN ' aaaaaaaaaaaaaaaaaaaa'
         |         ELSE '' END AS text FROM documents),
         |tok AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '),
         |    t -> t <> '')) AS t FROM aug),
         |cand AS (SELECT doc_id, substr(t, 1, 256) AS t FROM tok
         |  WHERE regexp_matches(t, '^[\\x21-\\x7e]{16,}$$')),
         |lt AS (SELECT [${graft.ops.Profiler.log2Micro.mkString(", ")}] AS L),
         |e AS (SELECT doc_id, len(t) AS n, string_split(t, '') AS cs
         |  FROM cand),
         |c AS (SELECT doc_id, n, list_transform(list_distinct(cs),
         |    ch -> CAST(len(list_filter(cs, x -> x = ch)) AS BIGINT)) AS cnts
         |  FROM e),
         |h AS (SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(cnts, k -> k * (L[n] - L[k]))),
         |      (a, x) -> a + x) // n AS hppm
         |  FROM c, lt)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_candidates,
         |  CAST(count(*) FILTER (WHERE hppm >= 3000000) AS BIGINT)
         |    AS n_flagged,
         |  CAST(max(hppm) AS BIGINT) AS max_h_ppm
         |FROM h GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Mirrors Profiler.wassersteinFromCells: gap to the next pooled
    // cell's lower bound x the |cumA·nb − cumB·na| CDF gap, then the
    // x1000 floor lift over na·nb.
    "q247_w1_cells" ->
      s"""WITH $docCellsCte,
         |t AS (SELECT g, CAST(SUM(cnt) AS BIGINT) AS n FROM cells GROUP BY 1),
         |pr AS (SELECT a.g AS g_a, b.g AS g_b
         |  FROM (SELECT DISTINCT g FROM cells) a, (SELECT DISTINCT g FROM cells) b
         |  WHERE a.g < b.g),
         |pv AS (SELECT DISTINCT g_a, g_b, e, m FROM (
         |  SELECT pr.g_a, pr.g_b, c.e, c.m FROM pr JOIN cells c ON c.g = pr.g_a
         |  UNION ALL SELECT pr.g_a, pr.g_b, c.e, c.m FROM pr JOIN cells c ON c.g = pr.g_b)),
         |cum AS (SELECT pv.g_a, pv.g_b, pv.e, pv.m,
         |    (pv.m << CAST(greatest(pv.e - 4, 0) AS INT)) AS lo,
         |    SUM(COALESCE(ca.cnt, 0)) OVER (PARTITION BY pv.g_a, pv.g_b ORDER BY pv.e, pv.m) AS cuma,
         |    SUM(COALESCE(cb.cnt, 0)) OVER (PARTITION BY pv.g_a, pv.g_b ORDER BY pv.e, pv.m) AS cumb
         |  FROM pv LEFT JOIN cells ca ON ca.g = pv.g_a AND ca.e = pv.e AND ca.m = pv.m
         |          LEFT JOIN cells cb ON cb.g = pv.g_b AND cb.e = pv.e AND cb.m = pv.m),
         |gp AS (SELECT g_a, g_b, cuma, cumb,
         |    COALESCE(lead(lo) OVER (PARTITION BY g_a, g_b ORDER BY e, m) - lo, 0) AS gap
         |  FROM cum),
         |s AS (SELECT gp.g_a, gp.g_b, ta.n AS na, tb.n AS nb,
         |    SUM(CAST(gap AS HUGEINT)
         |      * abs(CAST(cuma AS HUGEINT) * tb.n - CAST(cumb AS HUGEINT) * ta.n)) AS ss
         |  FROM gp JOIN t ta ON ta.g = gp.g_a JOIN t tb ON tb.g = gp.g_b
         |  GROUP BY 1, 2, 3, 4)
         |SELECT g_a, g_b, na AS n_a, nb AS n_b,
         |  CAST((ss * 1000) // (CAST(na AS HUGEINT) * nb) AS BIGINT) AS w1_milli
         |FROM s ORDER BY g_a, g_b""".stripMargin,

    // Mirrors Curation.skyline2D by the definition: NOT EXISTS a
    // dominating row (>= both, > somewhere). n^2 is fine at oracle SF.
    "q248_skyline" ->
      """WITH pts AS (SELECT p_partkey, CAST(p_size AS BIGINT) AS x,
        |    CAST(floor(p_retailprice * 100) AS BIGINT) AS y FROM part)
        |SELECT p.p_partkey, p.x, p.y FROM pts p WHERE NOT EXISTS (
        |  SELECT 1 FROM pts q
        |  WHERE q.x >= p.x AND q.y >= p.y AND (q.x > p.x OR q.y > p.y))
        |ORDER BY p_partkey""".stripMargin,

    // Mirrors Clustering.gridDensityClusters: same exact-IEEE cell
    // grid, min-label fixpoint over 8-adjacent dense cells via the
    // recursive CTE, sparse points coalesce to -1.
    "q249_grid_density" ->
      """WITH RECURSIVE
        |pts AS (SELECT vec_id, CAST(floor(embedding[1] * 32) AS BIGINT) AS cx,
        |    CAST(floor(embedding[2] * 32) AS BIGINT) AS cy FROM embeddings),
        |dense AS (SELECT cx, cy,
        |    ((cx + 1048576) << 21) + (cy + 1048576) AS k
        |  FROM pts GROUP BY cx, cy HAVING count(*) >= 4),
        |e AS (SELECT a.k AS s, b.k AS t FROM dense a JOIN dense b
        |  ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1 AND a.k <> b.k),
        |cc(n, l) AS (SELECT k, k FROM dense
        |  UNION SELECT e.t, cc.l FROM cc JOIN e ON e.s = cc.n),
        |lbl AS (SELECT n, min(l) AS c FROM cc GROUP BY n)
        |SELECT p.vec_id, p.cx, p.cy, COALESCE(lbl.c, -1) AS cluster
        |FROM pts p
        |LEFT JOIN dense d ON d.cx = p.cx AND d.cy = p.cy
        |LEFT JOIN lbl ON lbl.n = d.k
        |ORDER BY vec_id""".stripMargin,

    // Mirrors GraphRank.hyperBall (p=6, MaxRho=30, radii=2): seed
    // registers from the node-id polyhash+mix, two rounds of per-bucket
    // max over the symmetrized+self-looped edges, the integer harmonic
    // estimate read after every round.
    "q250_hyperball" -> {
      val vh = dh("CAST(n AS VARCHAR)")
      s"""WITH pe AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         |ed AS (SELECT DISTINCT x.p AS a, y.p AS b
         |  FROM pe x JOIN pe y ON x.o = y.o AND x.p < y.p),
         |nodes AS (SELECT a AS n FROM ed UNION SELECT b FROM ed),
         |und AS (SELECT a AS s, b AS t FROM ed
         |  UNION ALL SELECT b, a FROM ed
         |  UNION ALL SELECT n, n FROM nodes),
         |mx AS (SELECT n, ((48271 * ((h * h) % 1000000007)) % 1000000007
         |    + (16807 * h) % 1000000007) % 1000000007 AS m
         |  FROM (SELECT n, $vh AS h FROM nodes)),
         |r0 AS (SELECT n AS node, m % 64 AS bucket,
         |    CASE WHEN m // 64 = 0 THEN 30
         |         ELSE least(30, bit_count(((m // 64) & -(m // 64)) - 1) + 1)
         |    END AS register FROM mx),
         |r1 AS (SELECT u.s AS node, r0.bucket, max(r0.register) AS register
         |  FROM und u JOIN r0 ON r0.node = u.t GROUP BY 1, 2),
         |r2 AS (SELECT u.s AS node, r1.bucket, max(r1.register) AS register
         |  FROM und u JOIN r1 ON r1.node = u.t GROUP BY 1, 2),
         |est AS (
         |  SELECT node, CAST(0 AS BIGINT) AS r, count(*) AS occ,
         |      SUM(CAST(1 AS BIGINT) << CAST(30 - register AS INT)) AS s
         |    FROM r0 GROUP BY 1, 2
         |  UNION ALL SELECT node, 1, count(*),
         |      SUM(CAST(1 AS BIGINT) << CAST(30 - register AS INT))
         |    FROM r1 GROUP BY 1, 2
         |  UNION ALL SELECT node, 2, count(*),
         |      SUM(CAST(1 AS BIGINT) << CAST(30 - register AS INT))
         |    FROM r2 GROUP BY 1, 2)
         |SELECT node, r, CAST(occ AS BIGINT) AS n_occupied,
         |  CAST((709 * 64 * 64 * (CAST(1 AS BIGINT) << 30))
         |    // (1000 * (s + (64 - occ) * (CAST(1 AS BIGINT) << 30))) AS BIGINT) AS est
         |FROM est ORDER BY node, r""".stripMargin
    },

    // Mirrors GraphRank.harmonicCentrality: the q250 sketch chain, then
    // Σ ((est_r − est_{r−1})·1e6) // r per node with the lag window.
    "q251_harmonic_centrality" -> {
      val vh = dh("CAST(n AS VARCHAR)")
      s"""WITH pe AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         |ed AS (SELECT DISTINCT x.p AS a, y.p AS b
         |  FROM pe x JOIN pe y ON x.o = y.o AND x.p < y.p),
         |nodes AS (SELECT a AS n FROM ed UNION SELECT b FROM ed),
         |und AS (SELECT a AS s, b AS t FROM ed
         |  UNION ALL SELECT b, a FROM ed
         |  UNION ALL SELECT n, n FROM nodes),
         |mx AS (SELECT n, ((48271 * ((h * h) % 1000000007)) % 1000000007
         |    + (16807 * h) % 1000000007) % 1000000007 AS m
         |  FROM (SELECT n, $vh AS h FROM nodes)),
         |r0 AS (SELECT n AS node, m % 64 AS bucket,
         |    CASE WHEN m // 64 = 0 THEN 30
         |         ELSE least(30, bit_count(((m // 64) & -(m // 64)) - 1) + 1)
         |    END AS register FROM mx),
         |r1 AS (SELECT u.s AS node, r0.bucket, max(r0.register) AS register
         |  FROM und u JOIN r0 ON r0.node = u.t GROUP BY 1, 2),
         |r2 AS (SELECT u.s AS node, r1.bucket, max(r1.register) AS register
         |  FROM und u JOIN r1 ON r1.node = u.t GROUP BY 1, 2),
         |agg AS (
         |  SELECT node, CAST(0 AS BIGINT) AS r, count(*) AS occ,
         |      SUM(CAST(1 AS BIGINT) << CAST(30 - register AS INT)) AS s
         |    FROM r0 GROUP BY 1, 2
         |  UNION ALL SELECT node, 1, count(*),
         |      SUM(CAST(1 AS BIGINT) << CAST(30 - register AS INT))
         |    FROM r1 GROUP BY 1, 2
         |  UNION ALL SELECT node, 2, count(*),
         |      SUM(CAST(1 AS BIGINT) << CAST(30 - register AS INT))
         |    FROM r2 GROUP BY 1, 2),
         |res AS (SELECT node, r,
         |    CAST((709 * 64 * 64 * (CAST(1 AS BIGINT) << 30))
         |      // (1000 * (s + (64 - occ) * (CAST(1 AS BIGINT) << 30))) AS BIGINT) AS est
         |  FROM agg),
         |sh AS (SELECT node, r, est,
         |    lag(est) OVER (PARTITION BY node ORDER BY r) AS prev
         |  FROM res)
         |SELECT node,
         |  CAST(SUM(((est - prev) * 1000000) // r) AS BIGINT) AS centrality_ppm,
         |  CAST(MAX(CASE WHEN r = 2 THEN est END) AS BIGINT) AS reach_est
         |FROM sh WHERE r >= 1 GROUP BY node ORDER BY node""".stripMargin
    },

    // Mirrors TextAnalysis.soundexCode verbatim: the same fixed
    // pipeline of upper/strip/HW-drop/translate/7-collapse/lead-drop/
    // 0-strip/rpad — RE2-safe (no backreferences) on both engines.
    "q252_soundex_blocking" ->
      """WITH t AS (SELECT DISTINCT lower(string_split(p_name, ' ')[1]) AS term FROM part),
        |p1 AS (SELECT term, regexp_replace(upper(term), '[^A-Z]', '', 'g') AS s FROM t),
        |p2 AS (SELECT term, s, substr(s, 1, 1) AS f,
        |    substr(s, 1, 1) || regexp_replace(substr(s, 2), '[HW]', '', 'g') AS cl FROM p1),
        |p3 AS (SELECT term, s, f, translate(cl,
        |    'ABCDEFGHIJKLMNOPQRSTUVWXYZ', '01230120022455012623010202') AS d FROM p2),
        |p4 AS (SELECT term, s, f,
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |      regexp_replace(regexp_replace(regexp_replace(d,
        |      '0{2,}', '0', 'g'), '1{2,}', '1', 'g'), '2{2,}', '2', 'g'),
        |      '3{2,}', '3', 'g'), '4{2,}', '4', 'g'), '5{2,}', '5', 'g'),
        |      '6{2,}', '6', 'g') AS cd FROM p3),
        |p5 AS (SELECT term, CASE WHEN length(s) = 0 THEN NULL
        |    ELSE f || rpad(substr(regexp_replace(substr(cd, 2), '0', '', 'g'), 1, 3), 3, '0')
        |    END AS code FROM p4)
        |SELECT code, CAST(count(*) AS BIGINT) AS n_terms,
        |  min(term) AS first_term, max(term) AS last_term,
        |  CAST(count(*) * (count(*) - 1) // 2 AS BIGINT) AS n_candidate_pairs
        |FROM p5 GROUP BY code ORDER BY code""".stripMargin,

    // Exact heavy hitters: the oracle is the full groupBy-HAVING the
    // operator's two-pass MG-candidates+recount provably equals (the
    // sharePpm·(k+1) > 1e6 guarantee makes false negatives impossible,
    // and the exact recount removes false positives).
    "q253_heavy_hitters" ->
      """WITH v AS (SELECT CASE WHEN l_orderkey % 100 < 10
        |      THEN 'hot_' || CAST(l_orderkey % 5 AS VARCHAR)
        |      ELSE 'part_' || CAST(l_partkey AS VARCHAR) END AS item FROM lineitem),
        |n AS (SELECT count(*) AS n FROM v)
        |SELECT item, CAST(count(*) AS BIGINT) AS cnt
        |FROM v, n GROUP BY item, n.n
        |HAVING count(*) * 1000000 >= 5000 * n.n
        |ORDER BY item""".stripMargin,

    // Weighted heavy hitters: the oracle is the weighted groupBy-HAVING
    // the weighted-MG two-pass provably equals (Berinde et al. carry
    // the W/(k+1) guarantee to weights; exact recount drops the rest).
    "q256_heavy_weight" ->
      """WITH v AS (SELECT CASE WHEN l_orderkey % 100 < 10
        |      THEN 'hot_' || CAST(l_orderkey % 5 AS VARCHAR)
        |      ELSE 'part_' || CAST(l_partkey AS VARCHAR) END AS item,
        |    CAST(l_quantity AS BIGINT) AS wt FROM lineitem),
        |t AS (SELECT sum(wt) AS w FROM v)
        |SELECT item, CAST(sum(wt) AS BIGINT) AS w
        |FROM v, t GROUP BY item, t.w
        |HAVING sum(wt) * 1000000 >= 5000 * t.w
        |ORDER BY item""".stripMargin,

    // Blocked Jaro–Winkler: DuckDB's jaro_winkler_similarity is the
    // same classic definition (floored transposition count, 0.1 prefix
    // scale capped at 4, boost past jaro > 0.7) computed in doubles;
    // the 0.888 threshold sits in a measured >=10000-ppm gap of the
    // vocabulary's exact score distribution, so the double can't
    // straddle it and the PAIR SET matches exactly. Only integer-exact
    // columns (names, levenshtein) are emitted.
    "q254_jw_blocking" ->
      """WITH t AS (SELECT DISTINCT p_name AS name,
        |    string_split(p_name, ' ')[1] AS blk FROM part)
        |SELECT a.name AS name_a, b.name AS name_b,
        |  CAST(levenshtein(a.name, b.name) AS BIGINT) AS lev
        |FROM t a JOIN t b ON a.blk = b.blk AND a.name < b.name
        |WHERE jaro_winkler_similarity(a.name, b.name) >= 0.888
        |ORDER BY name_a, name_b""".stripMargin,

    // Encoding QA: the corruption literals interpolate from the SAME
    // Scala constants the Spark query appends, so both engines scan
    // identical bytes; patterns are the RE2 spellings of the Java
    // classes ([\x{..}-\x{..}] == [\u....-\u....]).
    "q255_encoding_qa" ->
      s"""WITH c AS (SELECT source,
         |    CASE WHEN doc_id % 5 = 0 THEN text || ' ${EncodingQaFixture.Mojibake}'
         |         WHEN doc_id % 7 = 0 THEN text || ' ${EncodingQaFixture.Corrupt}'
         |         ELSE text END AS text FROM documents),
         |m AS (SELECT source, length(text) AS n_chars,
         |    len(regexp_extract_all(text, '\\x{FFFD}')) AS n_repl,
         |    len(regexp_extract_all(text, '[\\x{0080}-\\x{009F}]')) AS n_c1,
         |    len(regexp_extract_all(text,
         |      '\\x{00C3}[\\x{0080}-\\x{00BF}]|\\x{00E2}\\x{0080}[\\x{0090}-\\x{00BE}]|\\x{00C2}[\\x{00A0}-\\x{00BF}]')) AS n_moji,
         |    len(regexp_extract_all(text, '[^\\x{0000}-\\x{007F}]')) AS n_na
         |  FROM c)
         |SELECT source, CAST(count(*) AS BIGINT) AS docs_scanned,
         |  CAST(sum(CASE WHEN n_repl + n_c1 + n_moji > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
         |  CAST(sum(n_repl) AS BIGINT) AS n_replacement,
         |  CAST(sum(n_c1) AS BIGINT) AS n_c1_controls,
         |  CAST(sum(n_moji) AS BIGINT) AS n_mojibake_digraphs,
         |  CAST(sum(n_na) * 1000000 // sum(n_chars) AS BIGINT) AS non_ascii_ppm
         |FROM m GROUP BY source ORDER BY source""".stripMargin,

    // Mirrors the PipelineETL composition over the part-derived
    // fixture: ISD (even keys) wins the catalog consolidation over ICD
    // (multiples of 3, DESON-suffixed descriptions); every 10th code's
    // latest maintenance event is the deactivation.
    "q236_pipeline_e2e" ->
      """WITH isd AS (SELECT CAST(p_partkey AS BIGINT) AS codigo, p_name AS descricao
        |  FROM part WHERE p_partkey % 2 = 0),
        |icd AS (SELECT CAST(p_partkey AS BIGINT) AS codigo, p_name || ' DESON' AS descricao
        |  FROM part WHERE p_partkey % 3 = 0),
        |cat AS (SELECT codigo, descricao FROM isd
        |  UNION ALL
        |  SELECT codigo, descricao FROM icd
        |  WHERE codigo NOT IN (SELECT codigo FROM isd))
        |SELECT codigo, descricao, 'UN' AS unidade,
        |  CASE WHEN codigo % 10 = 0 THEN 'DESATIVADO' ELSE 'ATIVO' END AS status
        |FROM cat ORDER BY codigo""".stripMargin,

    // Mirrors TextDedup.compactBandedIndex over Similarity.nearDupIndex
    // (planes=8, bands=2): TTL filter, then keep the 5 earliest ids
    // per (band, bucket) by row_number.
    "q235_compact_index" ->
      """WITH bk AS (SELECT vec_id AS id, b AS band,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(0, 8), i ->
        |      CASE WHEN embedding[b*8+i+1] > 0 THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END)),
        |      (a, x) -> a + x) AS bucket
        |  FROM embeddings, range(0, 2) t(b)),
        |f AS (SELECT * FROM bk WHERE id >= 100),
        |r AS (SELECT band, bucket, id,
        |    row_number() OVER (PARTITION BY band, bucket ORDER BY id) AS rn
        |  FROM f)
        |SELECT CAST(band AS BIGINT) AS band, bucket, id
        |FROM r WHERE rn <= 5 ORDER BY band, bucket, id""".stripMargin,

    // Mirrors Profiler.driftFromCells: per-cell floor-div shares over
    // the same cells, pooled per pair, L1 of the share gaps (q76's
    // spelling on the log-linear grid).
    "q233_drift_cells" ->
      s"""WITH $docCellsCte,
         |t AS (SELECT g, SUM(cnt) AS n FROM cells GROUP BY 1),
         |s AS (SELECT cells.g, e, m, cnt * 1000000 // n AS share
         |  FROM cells JOIN t ON t.g = cells.g),
         |pr AS (SELECT a.g AS g_a, b.g AS g_b
         |  FROM (SELECT DISTINCT g FROM s) a, (SELECT DISTINCT g FROM s) b
         |  WHERE a.g < b.g),
         |pv AS (SELECT DISTINCT g_a, g_b, e, m FROM (
         |  SELECT pr.g_a, pr.g_b, s.e, s.m FROM pr JOIN s ON s.g = pr.g_a
         |  UNION ALL SELECT pr.g_a, pr.g_b, s.e, s.m FROM pr JOIN s ON s.g = pr.g_b))
         |SELECT pv.g_a, pv.g_b,
         |  CAST(SUM(ABS(COALESCE(sa.share, 0) - COALESCE(sb.share, 0))) AS BIGINT) AS l1_ppm
         |FROM pv LEFT JOIN s sa ON sa.g = pv.g_a AND sa.e = pv.e AND sa.m = pv.m
         |        LEFT JOIN s sb ON sb.g = pv.g_b AND sb.e = pv.e AND sb.m = pv.m
         |GROUP BY 1, 2 ORDER BY g_a, g_b""".stripMargin,

    // Mirrors Profiler.quantileShiftFromCells: q210's cell-grid
    // quantile read per source, then the pairwise est_b - est_a.
    "q234_qshift_cells" ->
      s"""WITH $docCellsCte,
         |w AS (SELECT g, e, m,
         |    sum(cnt) OVER (PARTITION BY g ORDER BY e, m) AS cum,
         |    sum(cnt) OVER (PARTITION BY g) AS n
         |  FROM cells),
         |q AS (SELECT g, pct,
         |    min_by(e, e * 32 + m) AS qe, min_by(m, e * 32 + m) AS qm
         |  FROM w, unnest([50, 90, 99]) t(pct)
         |  WHERE cum * 100 >= pct * n
         |  GROUP BY 1, 2),
         |est AS (SELECT g, CAST(pct AS BIGINT) AS pct,
         |    CAST(qm << greatest(qe - 4, 0) AS BIGINT) AS est,
         |    CAST(1 << greatest(qe - 4, 0) AS BIGINT) AS width
         |  FROM q)
         |SELECT a.g AS g_a, b.g AS g_b, a.pct AS pct, a.est AS est_a,
         |  b.est AS est_b, b.est - a.est AS shift,
         |  greatest(a.width, b.width) AS width_max
         |FROM est a JOIN est b ON a.pct = b.pct AND a.g < b.g
         |ORDER BY g_a, g_b, a.pct""".stripMargin,

    // Mirrors Sketches.hllOverlap over the q88 registers: per-bucket
    // max union, the same integer harmonic estimate, clamped
    // inclusion-exclusion.
    "q230_hll_overlap" -> {
      val vh = dh("CAST(user_id AS VARCHAR)")
      s"""WITH h0 AS (SELECT event_type, $vh AS h FROM events),
         |mx AS (SELECT event_type,
         |    ((48271 * ((h * h) % 1000000007)) % 1000000007
         |     + (16807 * h) % 1000000007) % 1000000007 AS m FROM h0),
         |b AS (SELECT event_type, m % 64 AS bucket, m // 64 AS r FROM mx),
         |rho AS (SELECT event_type, bucket,
         |    CASE WHEN r = 0 THEN 30
         |         ELSE least(30, bit_count((r & -r) - 1) + 1) END AS rho
         |  FROM b),
         |regs AS (SELECT event_type AS g, bucket, max(rho) AS register
         |  FROM rho GROUP BY 1, 2),
         |est AS (SELECT g, CAST((709 * 64 * 64 * CAST(1073741824 AS BIGINT)) //
         |    (1000 * (SUM(CAST(1 AS BIGINT) << (30 - register))
         |             + (64 - count(*)) * CAST(1073741824 AS BIGINT)))
         |    AS BIGINT) AS est FROM regs GROUP BY g),
         |pr AS (SELECT a.g AS g_a, b.g AS g_b
         |  FROM (SELECT DISTINCT g FROM regs) a, (SELECT DISTINCT g FROM regs) b
         |  WHERE a.g < b.g),
         |ur AS (SELECT g_a, g_b, bucket, max(register) AS register FROM (
         |  SELECT pr.g_a, pr.g_b, regs.bucket, regs.register
         |    FROM pr JOIN regs ON regs.g = pr.g_a
         |  UNION ALL
         |  SELECT pr.g_a, pr.g_b, regs.bucket, regs.register
         |    FROM pr JOIN regs ON regs.g = pr.g_b)
         |  GROUP BY 1, 2, 3),
         |ue AS (SELECT g_a, g_b, CAST((709 * 64 * 64 * CAST(1073741824 AS BIGINT)) //
         |    (1000 * (SUM(CAST(1 AS BIGINT) << (30 - register))
         |             + (64 - count(*)) * CAST(1073741824 AS BIGINT)))
         |    AS BIGINT) AS est_union FROM ur GROUP BY 1, 2)
         |SELECT ue.g_a, ue.g_b, ea.est AS est_a, eb.est AS est_b, ue.est_union,
         |  greatest(0, ea.est + eb.est - ue.est_union) AS est_intersect,
         |  CAST(CASE WHEN ue.est_union = 0 THEN 0
         |       ELSE greatest(0, ea.est + eb.est - ue.est_union) * 1000000 // ue.est_union
         |       END AS BIGINT) AS jaccard_est_ppm
         |FROM ue JOIN est ea ON ea.g = ue.g_a JOIN est eb ON eb.g = ue.g_b
         |ORDER BY ue.g_a, ue.g_b""".stripMargin
    },

    // Mirrors BloomPrune.fprReport: same polynomial hash, same affine
    // position family (2j+3)·h+(5j+7) mod P mod m, absent-by-hash
    // probes, exact bit membership.
    "q229_bloom_fpr" ->
      s"""WITH kh AS (SELECT DISTINCT ${dh("(c_custkey::VARCHAR)")} AS h FROM customer),
         |pos AS (SELECT DISTINCT ((h * (2*j+3) + (5*j+7)) % 1000000007) % 4096 AS p
         |  FROM kh, range(0, 2) t(j)),
         |phh AS (SELECT DISTINCT ${dh("(o_orderkey::VARCHAR)")} AS h FROM orders),
         |neg AS (SELECT h FROM phh WHERE h NOT IN (SELECT h FROM kh)),
         |fpf AS (SELECT h, (SELECT count(*) FROM range(0, 2) t(j)
         |    WHERE ((h * (2*j+3) + (5*j+7)) % 1000000007) % 4096 IN (SELECT p FROM pos))
         |    AS hits FROM neg)
         |SELECT CAST(4096 AS BIGINT) AS m_bits, CAST(2 AS BIGINT) AS k_hashes,
         |  (SELECT CAST(count(*) AS BIGINT) FROM kh) AS n_keys,
         |  (SELECT CAST(count(*) AS BIGINT) FROM pos) AS bits_set,
         |  CAST(count(*) AS BIGINT) AS n_probes,
         |  CAST(SUM(CASE WHEN hits = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_fp,
         |  CAST(CASE WHEN count(*) = 0 THEN 0
         |       ELSE SUM(CASE WHEN hits = 2 THEN 1 ELSE 0 END) * 1000000 // count(*)
         |       END AS BIGINT) AS fpr_ppm
         |FROM fpf""".stripMargin,

    // Mirrors Curation.reshardStability: HRW argmax per shard count,
    // moved fraction floor-ppm.
    "q228_reshard_stability" ->
      s"""SELECT CAST(7 AS BIGINT) AS from_shards, CAST(8 AS BIGINT) AS to_shards,
         |  CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(SUM(CASE WHEN a <> b THEN 1 ELSE 0 END) AS BIGINT) AS n_moved,
         |  CAST(CASE WHEN count(*) = 0 THEN 0
         |       ELSE SUM(CASE WHEN a <> b THEN 1 ELSE 0 END) * 1000000 // count(*)
         |       END AS BIGINT) AS moved_ppm
         |FROM (SELECT ${hrwSql("(o_orderkey::VARCHAR)", 7)} AS a,
         |             ${hrwSql("(o_orderkey::VARCHAR)", 8)} AS b FROM orders)""".stripMargin,

    // Mirrors EvalMetrics.krippendorffAlphaPpm (L = lcm(1..11) = 27720):
    // per-unit disagreement scaled through L exactly, one truncating
    // division, units with >= 2 ratings only.
    "q226_krippendorff" ->
      """WITH capped AS (SELECT user_id, event_type FROM (
        |  SELECT user_id, event_type,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events) WHERE rn <= 8),
        |uv AS (SELECT user_id AS u, event_type AS v, CAST(count(*) AS BIGINT) AS c
        |  FROM capped GROUP BY 1, 2),
        |un AS (SELECT u, CAST(SUM(c) AS BIGINT) AS m,
        |    SUM(CAST(c AS HUGEINT) * c) AS ssq
        |  FROM uv GROUP BY 1 HAVING SUM(c) >= 2),
        |f AS (SELECT CAST(count(*) AS BIGINT) AS n_units,
        |    CAST(SUM(m) AS BIGINT) AS n_ratings,
        |    SUM((CAST(m AS HUGEINT) * m - ssq) * (27720 // (m - 1))) AS sdo
        |  FROM un),
        |mg AS (SELECT SUM(CAST(cv AS HUGEINT) * cv) AS ssv FROM (
        |  SELECT uv.v, SUM(uv.c) AS cv FROM uv JOIN un ON un.u = uv.u GROUP BY 1))
        |SELECT n_units, n_ratings,
        |  CAST(CASE WHEN n_units = 0 THEN 0
        |       WHEN CAST(n_ratings AS HUGEINT) * n_ratings = ssv THEN 1000000
        |       ELSE 1000000 - (CAST(n_ratings - 1 AS HUGEINT) * sdo * 1000000)
        |         // (CAST(27720 AS HUGEINT)
        |            * (CAST(n_ratings AS HUGEINT) * n_ratings - ssv)) END AS BIGINT)
        |    AS alpha_ppm
        |FROM f CROSS JOIN mg""".stripMargin,

    // Mirrors EvalMetrics.rougeN(n=2) of the 60% prefix vs the full
    // text: clipped bigram-multiset overlap in exact ppm.
    "q213_rouge" ->
      s"""WITH tok AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM documents),
         |p AS (SELECT doc_id,
         |    list_slice(toks, 1, CAST((len(toks)*3)//5 AS INT)) AS ct, toks AS rt
         |  FROM tok),
         |cg AS (SELECT doc_id, ${dh("array_to_string(list_slice(ct, i, i + 1), ' ')")} AS g, count(*) AS c
         |  FROM (SELECT doc_id, ct, unnest(range(1, len(ct))) AS i FROM p WHERE len(ct) >= 2)
         |  GROUP BY 1, 2),
         |rg AS (SELECT doc_id, ${dh("array_to_string(list_slice(rt, i, i + 1), ' ')")} AS g, count(*) AS c
         |  FROM (SELECT doc_id, rt, unnest(range(1, len(rt))) AS i FROM p WHERE len(rt) >= 2)
         |  GROUP BY 1, 2),
         |clip AS (SELECT doc_id, SUM(LEAST(cg.c, rg.c)) AS hit
         |  FROM cg JOIN rg USING (doc_id, g) GROUP BY 1),
         |m AS (SELECT p.doc_id, len(ct) - 1 AS cn, len(rt) - 1 AS rn, COALESCE(hit, 0) AS hit
         |  FROM p LEFT JOIN clip ON p.doc_id = clip.doc_id
         |  WHERE len(ct) >= 2 AND len(rt) >= 2),
         |fm AS (SELECT doc_id, cn, rn, hit,
         |    (hit * 1000000) // cn AS pp, (hit * 1000000) // rn AS rp FROM m)
         |SELECT doc_id AS pair_id, CAST(cn AS BIGINT) AS cand_grams,
         |  CAST(rn AS BIGINT) AS ref_grams, CAST(hit AS BIGINT) AS hit_grams,
         |  CAST(pp AS BIGINT) AS precision_ppm, CAST(rp AS BIGINT) AS recall_ppm,
         |  CAST(CASE WHEN pp + rp = 0 THEN 0 ELSE (2 * pp * rp) // (pp + rp) END AS BIGINT) AS f1_ppm
         |FROM fm ORDER BY pair_id""".stripMargin,

    // Mirrors Curation.targetEncodeLoo on (returnflag, linestatus) ×
    // quantity: (sum − v)·1000 div (n − 1), singleton NULL, collapsed
    // to distinct combinations (all values non-negative, so DuckDB's
    // flooring // equals Spark's truncating div).
    "q214_target_encode" ->
      """WITH r AS (SELECT l_returnflag, l_linestatus, CAST(l_quantity AS BIGINT) AS v FROM lineitem),
        |s AS (SELECT l_returnflag, l_linestatus, SUM(v) AS sm, COUNT(*) AS n FROM r GROUP BY 1, 2)
        |SELECT r.l_returnflag, r.l_linestatus, r.v, CAST(n AS BIGINT) AS n,
        |  CAST(CASE WHEN n = 1 THEN NULL
        |       WHEN sm - v >= 0 THEN ((sm - v) * 1000) // (n - 1)
        |       ELSE -(((v - sm) * 1000) // (n - 1)) END AS BIGINT) AS loo_milli,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows
        |FROM r JOIN s USING (l_returnflag, l_linestatus)
        |GROUP BY 1, 2, 3, 4, 5 ORDER BY 1, 2, 3""".stripMargin,

    // Mirrors Multimodal.imageDHash over syntheticImages: the 64
    // gradient-comparison bits recomputed arithmetically.
    "q215_image_dhash" ->
      s"""WITH z AS (SELECT doc_id, doc_id % 16 + 1 AS w, doc_id % 7 + 1 AS h FROM documents)
         |SELECT doc_id, CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
         |  $dhashExpr AS dhash
         |FROM z ORDER BY doc_id""".stripMargin,

    // Mirrors the q216 dedup rollup of the same hash.
    "q216_dhash_dups" ->
      s"""WITH z AS (SELECT doc_id, doc_id % 16 + 1 AS w, doc_id % 7 + 1 AS h FROM documents),
         |hh AS (SELECT doc_id, w, h, $dhashExpr AS dhash FROM z)
         |SELECT CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height, dhash,
         |  CAST(count(*) AS BIGINT) AS n_docs, CAST(min(doc_id) AS BIGINT) AS keep_doc
         |FROM hh GROUP BY 1, 2, 3 ORDER BY width, height, dhash""".stripMargin,

    // Mirrors Multimodal.audioQuality over syntheticAudio: sample i of
    // doc is u16 (doc_id·31 + i·7) mod 65536, magnitude via the
    // two's-complement fold, defaults clip=32700 / silence=100.
    "q217_audio_quality" ->
      """WITH s AS (SELECT doc_id, (doc_id*31 + i*7) % 65536 AS u
        |  FROM documents, unnest(range(0, doc_id % 50 + 10)) t(i)),
        |a AS (SELECT doc_id, CASE WHEN u < 32768 THEN u ELSE 65536 - u END AS amp FROM s)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_samples,
        |  CAST(max(amp) AS BIGINT) AS peak,
        |  CAST(sum(amp) // count(*) AS BIGINT) AS mean_amp,
        |  CAST(count(*) FILTER (WHERE amp >= 32700) AS BIGINT) AS n_clipped,
        |  CAST(count(*) FILTER (WHERE amp <= 100) AS BIGINT) AS n_silent
        |FROM a GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Mirrors Multimodal.audioEnergyHash (window 8, complete windows
    // only): bit w set iff window w+1's magnitude sum beats window w's.
    "q218_audio_ehash" ->
      """WITH s AS (SELECT doc_id, i, (doc_id*31 + i*7) % 65536 AS u
        |  FROM documents, unnest(range(0, doc_id % 50 + 10)) t(i)),
        |a AS (SELECT doc_id, i, CASE WHEN u < 32768 THEN u ELSE 65536 - u END AS amp FROM s),
        |n AS (SELECT doc_id, count(*) AS ns FROM a GROUP BY 1),
        |w AS (SELECT a.doc_id, i // 8 AS w, SUM(amp) AS e
        |  FROM a JOIN n USING (doc_id) WHERE i // 8 < ns // 8 GROUP BY 1, 2),
        |h AS (SELECT x.doc_id,
        |    COALESCE(SUM(CASE WHEN y.e > x.e THEN 1::BIGINT << CAST(x.w AS INT) ELSE 0::BIGINT END), 0) AS ehash
        |  FROM w x JOIN w y ON x.doc_id = y.doc_id AND y.w = x.w + 1
        |  WHERE x.w < 64 GROUP BY 1)
        |SELECT n.doc_id, CAST(ns AS BIGINT) AS n_samples,
        |  CAST(ns // 8 AS BIGINT) AS n_windows,
        |  CAST(COALESCE(h.ehash, 0) AS BIGINT) AS ehash
        |FROM n LEFT JOIN h USING (doc_id) ORDER BY doc_id""".stripMargin,

    // Mirrors Multimodal.imageQuality over syntheticImages: BT.601
    // luma stats of the full gradient raster.
    "q219_image_quality" ->
      """WITH z AS (SELECT doc_id, doc_id % 16 + 1 AS w, doc_id % 7 + 1 AS h FROM documents),
        |px AS (SELECT doc_id, w, h,
        |    299*((doc_id + x*31 + y*17) % 256) + 587*((doc_id // 8 + x) % 256)
        |    + 114*((doc_id + y) % 256) AS l
        |  FROM z, unnest(range(0, w)) tx(x), unnest(range(0, h)) ty(y))
        |SELECT doc_id, CAST(max(w) AS INTEGER) AS width,
        |  CAST(max(h) AS INTEGER) AS height,
        |  CAST(sum(l) // count(*) AS BIGINT) AS mean_luma,
        |  CAST(min(l) AS BIGINT) AS min_luma, CAST(max(l) AS BIGINT) AS max_luma
        |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin,
  )
}
