package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFeatures._

/** Document-deduplication operators for large-scale training-data
  * pipelines (SURVEY §7.6): exact, MinHash+LSH, SimHash, and n-gram
  * Jaccard. All candidate generation is join-based (bucket/shingle
  * collisions) — never an all-pairs cross join — so each operator's
  * shuffle volume scales with collisions, not with |docs|².
  */
object TextDedup {

  /** Spread a (possibly single-partition) source across the cluster
    * before a compute-heavy per-row stage.
    *
    * CONDITIONAL: only repartitions when the source is meaningfully
    * under-split (< half the cluster's parallelism — the single-file
    * small-parquet case this guards against). A well-partitioned 100 TB
    * source must NOT pay a full round-robin shuffle of the corpus just
    * to enter a dedup operator (VERDICT r6 "what's wrong" #3); a
    * PlanShapeSpec guard pins the exchange's absence on a pre-split
    * source ([[private]] widened to the package for exactly that test —
    * the exchange feeds a localCheckpoint, so operator-level final plans
    * start at the checkpoint's RDD scan and can't show it). */
  private[graft] def fanOut(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < (target + 1) / 2) df.repartition(target)
    else df
  }

  /** Exact dedup by full-text equality: one shuffle on a text hash.
    * Returns (canonical_id, n_copies) per duplicated text. At scale the
    * groupBy key is charHash(text) (fixed width) rather than the text
    * itself; the full text only rides along for collision confirmation.
    */
  def exactDupGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    docs.groupBy(charHash(col(textCol)).as("__h"), col(textCol))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_copies"))
      .filter(col("n_copies") > 1)
      .select(col("canonical_id"), col("n_copies"))
  }

  /** X97: provenance-aware cross-corpus dedup — the dump-mixing step
    * of a multi-source pipeline (N crawls/snapshots in, one corpus
    * out): exact-duplicate groups across ALL tagged sources, with the
    * survivor chosen by SOURCE PRIORITY first (the caller's order —
    * "prefer the newest dump"), then lowest id. Where [[exactDupGroups]]
    * answers "what duplicates exist", this answers the mixing
    * question: which copy ships, and how many sources carried it.
    *
    * One shuffle: the union is grouped by (text hash, text) — the
    * collision-proof [[exactDupGroups]] key — with a lexicographic
    * struct-min picking the survivor and two counts riding the same
    * aggregate. Shuffle volume is the tagged union, map-side
    * combinable; priorities live as the position in `corpora`, so no
    * side table, no extra join.
    *
    * @param corpora (sourceTag, frame) in DESCENDING priority order
    * @return one row per distinct text: (source, doc_id) of the
    *         surviving copy, n_copies across all sources, n_sources
    */
  def provenanceDedup(corpora: Seq[(String, DataFrame)], idCol: String,
                      textCol: String): DataFrame = {
    require(corpora.nonEmpty, "provenanceDedup needs at least one corpus")
    val tagged = corpora.zipWithIndex.map { case ((tag, df), pri) =>
      df.select(lit(pri.toLong).as("__pri"), lit(tag).as("__src"),
        col(idCol).as("__id"), col(textCol).as("__text"))
    }.reduce(_ unionByName _)
    tagged
      .groupBy(charHash(col("__text")).as("__h"), col("__text"))
      .agg(min(struct(col("__pri"), col("__id"), col("__src"))).as("__w"),
        count(lit(1)).as("n_copies"),
        count_distinct(col("__src")).as("n_sources"))
      .select(col("__w").getField("__src").as("source"),
        col("__w").getField("__id").as("doc_id"),
        col("n_copies"), col("n_sources"))
  }

  /** MinHash+LSH candidate pairs: shingle → k-minhash signature → band →
    * bucket self-join. Output (id_a < id_b, est_jaccard) where
    * est_jaccard is the fraction of equal signature positions.
    * Docs with fewer than `shingleN` tokens carry no signature and are
    * excluded (empty shingle set has no minimum).
    */
  /** Banded signature frame (id, __sig, band, bucket) — the shared
    * prefix of within-corpus and cross-corpus candidate generation.
    * Two materialization points, both |docs|-sized and deliberate:
    *  1. shingle hashes — otherwise the string hashing is inlined into
    *     the k-way signature lambda and re-evaluated k times per doc;
    *  2. signatures — otherwise the signature expression is inlined
    *     into the band keys and est_jaccard and re-evaluated per band
    *     row / per candidate pair (O(pairs·k·shingles) instead of
    *     O(docs·k·shingles)).
    * Fan out first: a small parquet source arrives as one partition,
    * and the per-doc hashing below is the expensive stage — without the
    * repartition it would run on a single core regardless of cluster
    * size (interpreted HOF evaluation makes this very visible). */
  private def bandedSigs(docs: DataFrame, idCol: String, textCol: String,
                         shingleN: Int, k: Int, bands: Int): DataFrame = {
    val hashed = fanOut(docs)
      .withColumn("__toks", tokens(col(textCol)))
      .filter(size(col("__toks")) >= shingleN)
      .select(col(idCol).as("id"),
        shingleHashes(shingles(col("__toks"), shingleN)).as("__h"))
      .localCheckpoint(eager = false) // lazy: one action computes the chain
    hashed
      .select(col("id"), minhashSignature(col("__h"), k).as("__sig"))
      .localCheckpoint(eager = false)
      .select(col("id"), col("__sig"),
        posexplode(bandValues(col("__sig"), bands, k / bands)))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "bucket"))
  }

  private def estJaccard(k: Int) =
    (size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), e => e))
      .cast("double") / k).as("est_jaccard")

  def minhashCandidates(docs: DataFrame, idCol: String, textCol: String,
                        shingleN: Int = 3, k: Int = 16, bands: Int = 4): DataFrame = {
    val sigs = bandedSigs(docs, idCol, textCol, shingleN, k, bands)
    val a = sigs.select(col("band"), col("bucket"), col("id").as("id_a"), col("__sig").as("sig_a"))
    val b = sigs.select(col("band"), col("bucket"), col("id").as("id_b"), col("__sig").as("sig_b"))
    a.join(b, Seq("band", "bucket")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), estJaccard(k))
      .distinct()
  }

  /** Incremental dedup: candidates of NEW documents against an EXISTING
    * corpus — the continuously-ingested-data path. The corpus side's
    * banded signatures are exactly what a warehouse would persist as its
    * "LSH index" table; deduplicating a daily batch then touches the
    * corpus ONLY through the band-bucket equi-join (shuffle bounded by
    * bucket collisions, never corpus × batch), and the corpus is never
    * self-paired at all — that quadratic work happened once, historically.
    *
    * @return (id_new, id_corpus, est_jaccard), distinct
    */
  def minhashCandidatesAgainst(newDocs: DataFrame, corpus: DataFrame,
                               idCol: String, textCol: String,
                               shingleN: Int = 3, k: Int = 16,
                               bands: Int = 4): DataFrame = {
    val a = bandedSigs(newDocs, idCol, textCol, shingleN, k, bands)
      .select(col("band"), col("bucket"), col("id").as("id_new"), col("__sig").as("sig_a"))
    val b = corpusBandIndex(corpus, idCol, textCol, shingleN, k, bands)
      .select(col("band"), col("bucket"), col("id").as("id_corpus"), col("__sig").as("sig_b"))
    a.join(b, Seq("band", "bucket"))
      .select(col("id_new"), col("id_corpus"), estJaccard(k))
      .distinct()
  }

  /** The corpus side of incremental dedup as a PERSISTABLE frame —
    * (id, __sig, band, bucket), the "LSH index" a warehouse writes once
    * and every future batch (or stream: [[graft.streaming.StreamingLoad
    * .dedupAgainstCorpusStream]]) joins against. */
  def corpusBandIndex(corpus: DataFrame, idCol: String, textCol: String,
                      shingleN: Int = 3, k: Int = 16,
                      bands: Int = 4): DataFrame =
    bandedSigs(corpus, idCol, textCol, shingleN, k, bands)

  /** The COMPLETE incremental-dedup step — everything a continuously
    * ingesting pipeline runs per batch arrival, in one call:
    *
    *  (a) NEW-vs-CORPUS: the batch's band rows equi-join the persisted
    *      index on (band, bucket) — the corpus is touched only through
    *      bucket collisions, never re-hashed, never self-paired;
    *  (b) NEW-vs-NEW: the batch's band rows self-join — duplicates
    *      ARRIVING TOGETHER must not slip through just because neither
    *      side is in the index yet;
    *  (c) INDEX APPEND: the grown index (corpus ∪ batch band rows) to
    *      persist for the next arrival.
    *
    * The batch's signatures are computed ONCE (lazy checkpoint) and
    * feed all three outputs. Sequential-step composition is exact:
    * step(B₂, step(B₁, I).index) finds the same orientation-normalized
    * pair set as step(B₁ ∪ B₂, I) — a B₁×B₂ duplicate surfaces either
    * as a within-batch pair (combined run) or as new-vs-corpus once B₁
    * is indexed (sequential run), pinned by StreamingSpec.
    *
    * @param corpusIndex persisted (id, __sig, band, bucket) from
    *                    [[corpusBandIndex]] or a prior step's `index`
    * @return pairs (id_a, id_b, est_jaccard, pair_src) distinct —
    *         cross pairs carry the batch doc in id_a with
    *         pair_src='corpus'; within-batch pairs order id_a < id_b
    *         with pair_src='batch' — and the grown index
    */
  final case class IncrementalDedup(pairs: DataFrame, index: DataFrame)

  def incrementalDedupStep(newDocs: DataFrame, corpusIndex: DataFrame,
                           idCol: String, textCol: String,
                           shingleN: Int = 3, k: Int = 16,
                           bands: Int = 4): IncrementalDedup = {
    val batchIdx = bandedSigs(newDocs, idCol, textCol, shingleN, k, bands)
      .localCheckpoint(eager = false) // three consumers, one compute
    val a = batchIdx.select(col("band"), col("bucket"),
      col("id").as("id_a"), col("__sig").as("sig_a"))
    val c = corpusIndex.select(col("band"), col("bucket"),
      col("id").as("id_b"), col("__sig").as("sig_b"))
    val cross = a.join(c, Seq("band", "bucket"))
      .select(col("id_a"), col("id_b"), estJaccard(k),
        lit("corpus").as("pair_src"))
    val within = a.join(batchIdx.select(col("band"), col("bucket"),
        col("id").as("id_b"), col("__sig").as("sig_b")), Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), estJaccard(k),
        lit("batch").as("pair_src"))
    IncrementalDedup(
      cross.unionByName(within).distinct(),
      corpusIndex.unionByName(batchIdx))
  }

  /** X201: LSH index compaction — the maintenance operator the
    * incremental family promises ("the cap belongs at index
    * build/compaction, not inside the probe"): without it a
    * continuously-ingested corpus grows its persisted index without
    * bound. Works on ANY banded index carrying (band, bucket, id) —
    * X46's [[corpusBandIndex]] rows and X193's
    * [[graft.ops.Similarity.nearDupIndex]] rows alike; extra columns
    * (signatures, vectors) ride along untouched.
    *
    * Two composable policies:
    *  - TTL: drop rows with id < `minId`. Under the increasing-id
    *    arrival contract the id IS the arrival clock, so this is
    *    "expire entries older than the retention window".
    *  - Hot-bucket cap: keep the `maxBucket` EARLIEST ids per
    *    (band, bucket) — the canonical survivors, so a probe against
    *    a capped bucket still pairs with the corpus' first
    *    occurrences, which is what dup-of-earliest semantics needs.
    *    A hot bucket is almost always one near-identical clone family;
    *    members past the cap are represented by their earliest kin.
    *
    * Contract (spec-pinned): a probe against the compacted index
    * returns a SUBSET of the probe against the uncompacted one — the
    * sequential ≡ one-shot equivalence (q65/q227) is a property of
    * UNCOMPACTED indexes only, by design.
    *
    * Cost: one row_number window partitioned by (band, bucket) over
    * the INDEX (never the corpus); the hottest bucket bounds the
    * single-task width — exactly the rows this operator exists to
    * remove, paid once per compaction cycle, and the output stays
    * bounded at ≤ |buckets|·maxBucket forever after.
    */
  def compactBandedIndex(index: DataFrame, maxBucket: Long,
                         minId: Long = Long.MinValue): DataFrame = {
    require(maxBucket >= 1, s"bucket cap must be at least 1: $maxBucket")
    index.filter(col("id") >= minId)
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("band"), col("bucket")).orderBy(col("id").asc)))
      .filter(col("__rn") <= maxBucket)
      .drop("__rn")
  }

  /** Streaming-safe banded signatures: same math as [[corpusBandIndex]]
    * but with NO localCheckpoint/repartition (illegal on a streaming
    * frame). Single-consumer plans only — a batch caller with a
    * self-join must use the checkpointed variant or pay re-evaluation. */
  private[graft] def bandedSigsStreamSafe(docs: DataFrame, idCol: String,
                                          textCol: String, shingleN: Int,
                                          k: Int, bands: Int): DataFrame = {
    docs
      .withColumn("__toks", tokens(col(textCol)))
      .filter(size(col("__toks")) >= shingleN)
      .select(col(idCol).as("id"),
        minhashSignature(
          shingleHashes(shingles(col("__toks"), shingleN)), k).as("__sig"))
      .select(col("id"), col("__sig"),
        posexplode(bandValues(col("__sig"), bands, k / bands)))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "bucket"))
  }

  /** Per-doc SimHash fingerprint (`bits` wide). */
  def simhashes(docs: DataFrame, idCol: String, textCol: String, bits: Int = 30): DataFrame =
    docs.select(col(idCol).as("id"), simhash(tokens(col(textCol)), bits).as("simhash"))

  /** SimHash near-dup pairs with Hamming distance ≤ maxHamming:
    * candidates via the pigeonhole band trick — fingerprints within
    * Hamming h of each other must agree on at least one of (h+1) equal
    * bands. Using exactly h+1 bands maximizes band width (bits/(h+1)),
    * which minimizes accidental bucket collisions: for h=1 that is two
    * 15-bit bands (32768 buckets each) instead of four 8-bit ones.
    */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   bits: Int = 30, maxHamming: Int = 1): DataFrame = {
    val bands = maxHamming + 1
    val width = bits / bands
    val mask = (1L << width) - 1
    // Materialized for the same reason as the MinHash signatures: the
    // simhash fold must be computed once per doc, not once per candidate
    // pair (it feeds both the band keys and the hamming distance).
    val sh = simhashes(fanOut(docs), idCol, textCol, bits)
      .localCheckpoint(eager = false) // lazy: both consumers read one compute
    // Clique collapse: duplicate-heavy corpora concentrate on few
    // distinct fingerprints, so the quadratic band self-join runs over
    // DISTINCT simhash VALUES (|values| ≪ |docs|), and doc pairs are
    // recovered by two hash joins afterwards. Candidate volume drops
    // from |docs-in-bucket|² to |values-in-bucket|² — the difference
    // between 12M and 100k joined rows on clustered data.
    val vals = sh.select("simhash").distinct().localCheckpoint(eager = false)
    val bandv = vals.select(col("simhash"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)), j =>
          call_function("shiftright", col("simhash"), j * width).bitwiseAND(mask))))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "bucket"))
    val vp = bandv.select(col("band"), col("bucket"), col("simhash").as("va"))
      .join(bandv.select(col("band"), col("bucket"), col("simhash").as("vb")),
        Seq("band", "bucket"))
      .filter(col("va") <= col("vb"))
      .select(col("va"), col("vb"),
        bit_count(col("va").bitwiseXOR(col("vb"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
    sh.select(col("id").as("__ia"), col("simhash").as("va"))
      .join(vp, Seq("va"))
      .join(sh.select(col("id").as("__ib"), col("simhash").as("vb")), Seq("vb"))
      .filter(col("__ia") =!= col("__ib"))
      .select(least(col("__ia"), col("__ib")).as("id_a"),
        greatest(col("__ia"), col("__ib")).as("id_b"), col("hamming"))
      .distinct()
  }

  /** C4-style boilerplate-block removal (Raffel et al. 2020 §2.2 applied
    * the idea at three-sentence granularity; here the unit is a
    * non-overlapping `blockTokens`-token block): a block whose text
    * occurs in more than `maxBlockDf` DISTINCT documents is boilerplate
    * (navigation chrome, license headers, templated footers) and is cut
    * from every document; each document is re-assembled from its
    * surviving blocks in original order.
    *
    * Physical shape: one explode pass produces (doc, pos, blockHash);
    * block document-frequency is a hash-keyed aggregate (fixed-width
    * shuffle key — the block TEXT never shuffles); the boilerplate set
    * joins back as a left_anti. Per-row work is linear in tokens, df
    * state is |distinct blocks| ≪ corpus tokens. A hash collision
    * merges two blocks consistently on both engines (dedup-family
    * convention, mirrored by the oracle).
    *
    * @return (doc_id, n_blocks, n_kept, kept_text); kept_text is ''
    *         when every block was boilerplate.
    */
  def blockBoilerplate(docs: DataFrame, idCol: String, textCol: String,
                       blockTokens: Int = 5, maxBlockDf: Long = 2): DataFrame = {
    val blocks = fanOut(docs)
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("__toks"))
      .filter(size(col("__toks")) >= 1)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("__toks")), lit(blockTokens)), i => struct(
          i.as("pos"),
          concat_ws(" ", slice(col("__toks"), i, lit(blockTokens))).as("block")))).as("__b"))
      .select(col("doc_id"), col("__b.pos").as("pos"),
        col("__b.block").as("block"), charHash(col("__b.block")).as("__h"))
      .localCheckpoint() // forked: df aggregate + the anti-join below
    val boiler = blocks.select(col("doc_id"), col("__h")).distinct()
      .groupBy("__h").agg(count(lit(1)).as("__df"))
      .filter(col("__df") > maxBlockDf).select("__h")
    val kept = blocks.join(boiler, Seq("__h"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(array_sort(collect_list(struct(col("pos"), col("block")))),
          b => b.getField("block")), " ").as("kept_text"))
    blocks.groupBy("doc_id").agg(count(lit(1)).as("n_blocks"))
      .join(kept, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_kept")).na.fill("", Seq("kept_text"))
  }

  /** Exact duplicated-substring-span coverage (the span-level exact
    * dedup of Lee et al., "Deduplicating Training Data Makes Language
    * Models Better", arXiv:2107.06499 — cf. the reference's row-level
    * keep-first dedup at processor.py:61, which this generalizes below
    * the document grain): every sliding `windowTokens`-token window is
    * hashed; a window whose hash occurs in MORE THAN ONE DISTINCT
    * document marks the duplicated span [pos, pos+L); overlapping spans
    * merge via a running-max interval sweep, giving the exact number of
    * tokens covered by at least one cross-document duplicate — the
    * "how much of this document is copied" signal a span-removal pass
    * acts on.
    *
    * Physical shape: one explode pass emits (doc, pos, windowHash) —
    * sliding windows are |tokens|-bounded (one start per token), NOT
    * quadratic; span df is a hash-keyed aggregate (fixed-width key, the
    * window text never shuffles); duplicated windows join back by
    * left_semi; the interval sweep is one per-doc window function over
    * only the DUPLICATED windows (usually a small fraction of the
    * corpus). Driver state: none. A hash collision merges two windows
    * consistently on both engines (dedup-family convention, mirrored by
    * the oracle).
    *
    * @return (doc_id, n_tokens, n_dup_windows, covered_tokens) for
    *         docs with at least one duplicated window.
    */
  def dupSpanCoverage(docs: DataFrame, idCol: String, textCol: String,
                      windowTokens: Int = 5): DataFrame = {
    require(windowTokens >= 1, "span window must be at least one token")
    val wins = fanOut(docs)
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("__toks"))
      .filter(size(col("__toks")) >= windowTokens)
      .select(col("doc_id"), size(col("__toks")).cast("long").as("n_tokens"),
        explode(transform(
          sequence(lit(1), size(col("__toks")) - lit(windowTokens - 1)), i => struct(
            i.as("pos"),
            charHash(concat_ws(" ", slice(col("__toks"), i, lit(windowTokens)))).as("h")))).as("__w"))
      .select(col("doc_id"), col("n_tokens"),
        col("__w.pos").as("pos"), col("__w.h").as("__h"))
      .localCheckpoint() // forked: df aggregate + the semi-join below
    val dupHashes = wins.select(col("doc_id"), col("__h")).distinct()
      .groupBy("__h").agg(count(lit(1)).as("__df"))
      .filter(col("__df") > 1).select("__h")
    // Interval sweep: covered(i) = pos_i + L − max(prev_end, pos_i),
    // clamped at 0 — the classic merge of sorted overlapping intervals
    // as a running max, no per-group collect.
    val sweep = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    wins.join(dupHashes, Seq("__h"), "left_semi")
      .withColumn("__prevEnd", max(col("pos") + lit(windowTokens)).over(sweep))
      .withColumn("__cov", greatest(lit(0),
        col("pos") + lit(windowTokens) -
          greatest(coalesce(col("__prevEnd"), col("pos")), col("pos"))))
      .groupBy("doc_id")
      .agg(first(col("n_tokens")).as("n_tokens"),
        count(lit(1)).as("n_dup_windows"),
        sum(col("__cov")).cast("long").as("covered_tokens"))
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 —
    * the MOSS local-similarity fingerprint; generalizes q31's single
    * global-min digest in TextAnalysis.fingerprintColumns): hash every
    * `k`-char gram, then in every window of `w` consecutive gram hashes
    * select the MINIMUM, breaking ties by the RIGHTMOST position
    * (robust winnowing); the distinct selected (hash, pos) pairs are
    * the document's fingerprints, with expected density 2/(w+1) and the
    * guarantee that any shared substring of length ≥ k+w−1 yields a
    * shared fingerprint.
    *
    * The min-with-rightmost-tie-break inside a sliding frame is ONE
    * window max over the encoded key (MaxH − h)·2²¹ + pos — largest key
    * ⟺ smallest hash, ties ⟺ largest pos — so the whole operator is an
    * explode + a per-doc window function + a distinct: no self-join, no
    * per-group collect, shuffle ∝ grams (∝ chars). The key fits a long
    * (MaxH·2²¹ ≈ 2.1·10¹⁵) for documents up to 2²¹ chars — enforced by
    * a filter, matching the oracle (a 2 MB+ single document belongs in
    * chunked ingestion, not a fingerprint pass).
    *
    * @return (doc_id, n_grams, n_fps, fp_checksum) — fp_checksum folds
    *         the fingerprint SET as Σ (h·pos mod P), order-free.
    */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
                         k: Int = 8, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1, "winnowing needs k >= 1 and w >= 1")
    val M = 1L << 21 // position encoder radix AND max doc length
    val P = 1000000007L
    val grams = fanOut(docs)
      .select(col(idCol).as("doc_id"), col(textCol).as("__t"))
      .filter(length(col("__t")) >= k + w - 1 && length(col("__t")) < M)
      .select(col("doc_id"),
        (length(col("__t")) - lit(k - 1)).cast("long").as("n_grams"),
        explode(transform(
          sequence(lit(1), length(col("__t")) - lit(k - 1)), i => struct(
            i.as("pos"),
            charHash(col("__t").substr(i, lit(k))).as("h")))).as("__g"))
      .select(col("doc_id"), col("n_grams"), col("__g.pos").as("pos"),
        ((lit(P) - col("__g.h")) * lit(M) + col("__g.pos")).as("__key"))
    val frame = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, w - 1)
    grams
      .withColumn("__selKey", max(col("__key")).over(frame))
      .filter(col("pos") <= col("n_grams") - lit(w - 1)) // full windows only
      .select(col("doc_id"), col("n_grams"),
        (col("__selKey") % M).as("sel_pos"),
        (lit(P) - expr(s"__selKey div $M")).as("sel_h"))
      .distinct()
      .groupBy("doc_id")
      .agg(first(col("n_grams")).as("n_grams"),
        count(lit(1)).as("n_fps"),
        sum(pmod(col("sel_h") * col("sel_pos"), lit(P))).as("fp_checksum"))
  }

  /** Exact n-gram Jaccard for pairs sharing at least one shingle:
    * explode DISTINCT shingles → shingle-equality self-join → per-pair
    * intersection counts → |∩| / (|A|+|B|-|∩|). Returns pairs with
    * jaccard ≥ threshold. The shared-shingle join IS the candidate
    * filter — disjoint docs never meet.
    *
    * `maxShingleDf` is the stop-shingle cap: shingles occurring in more
    * than that many DISTINCT texts are excluded from both intersections
    * and set sizes (so jaccard is computed over the reduced shingle
    * sets). A ubiquitous boilerplate trigram otherwise turns the
    * shingle-equality join into one hot key with O(|texts|²) candidate
    * rows — dropping it bounds the join fan-out AND improves precision
    * (boilerplate overlap is not similarity signal).
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        shingleN: Int = 3, threshold: Double = 0.5,
                        maxShingleDf: Long = Long.MaxValue): DataFrame = {
    require(threshold <= 1.0, "jaccard threshold cannot exceed 1.0")
    // Representative collapse (same idea as the SimHash clique collapse):
    // duplicate-heavy corpora make the shingle self-join quadratic in
    // clone count. Jaccard only depends on the text, so compute pairs
    // among DISTINCT texts (min-id representative each) and expand:
    //  - within a clique every pair has jaccard exactly 1.0,
    //  - across cliques every member pair inherits the rep pair's value.
    // Representatives are keyed by (hash, text), NOT the hash alone: by
    // the birthday bound a 10^9-space hash is expected to collide above
    // ~50k distinct texts, and a hash-only key would merge two distinct
    // texts into one clique (false jaccard=1.0 pairs, dropped true
    // pairs). The text rides along solely to disambiguate collisions —
    // same pattern as exactDupGroups.
    val base = fanOut(docs)
      .withColumn("__toks", tokens(col(textCol)))
      .filter(size(col("__toks")) >= shingleN)
      .select(col(idCol).as("id"), charHash(col(textCol)).as("__h"),
        col(textCol).as("__t"), col("__toks"))
      // LAZY checkpoints throughout this operator: no intermediate
      // drives control flow (unlike the CC/TreeExplode convergence
      // loops), so the caller's single action materializes every marked
      // frame in one job — each computed once, read by all its
      // subtrees — instead of paying one blocking job per checkpoint.
      .localCheckpoint(eager = false)
    val reps = base.groupBy("__h", "__t").agg(min(col("id")).as("rep"))
    val members = base.select(col("id"), col("__h"), col("__t"))
      .join(reps, Seq("__h", "__t")).select(col("id"), col("rep"))
      .localCheckpoint(eager = false)

    // Shingles ride as their 30-bit polynomial hash, not the string: the
    // self-join below shuffles on this key, and a fixed-width long beats
    // a variable-length trigram string at any scale. A hash collision
    // merges two shingles consistently across ALL docs (intersections
    // and sizes alike) — the standard hashed-shingling approximation,
    // mirrored exactly by the oracle.
    val shAll = base.join(reps.select(col("rep")), base("id") === col("rep"))
      .select(col("rep").as("id"),
        explode(array_distinct(transform(shingles(col("__toks"), shingleN),
          s => charHash(s)))).as("shingle"))
    // Stop-shingle exclusion. Document frequency is counted over
    // representatives = distinct texts (clone count must not inflate a
    // shingle into "ubiquitous").
    // Checkpointed: FIVE downstream subtrees read sh (sizes, dfreq, the
    // prefix build, the sorted-set arrays, and via them the verify
    // join); unmaterialized, each one would re-run the explode +
    // stop-filter chain — including the groupBy hidden inside the
    // anti-join — multiplicatively.
    val sh = (
      if (maxShingleDf == Long.MaxValue) shAll
      else {
        val stop = shAll.groupBy("shingle").agg(count(lit(1)).as("__df"))
          .filter(col("__df") > maxShingleDf).select("shingle")
        shAll.join(stop, Seq("shingle"), "left_anti")
      }).localCheckpoint(eager = false)
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("n"))
    val cand = ppjoinCandidates(sh, sizes, threshold)
    val sets = sh.groupBy("id")
      .agg(sort_array(collect_list(col("shingle"))).as("__ss"))
    val repPairs = cand
      .join(sets.select(col("id").as("ra"), col("__ss").as("__sa")), Seq("ra"))
      .join(sets.select(col("id").as("rb"), col("__ss").as("__sb")), Seq("rb"))
      .withColumn("n_inter",
        size(array_intersect(col("__sa"), col("__sb"))).cast("long"))
      .join(sizes.withColumnsRenamed(Map("id" -> "ra", "n" -> "n_a")), Seq("ra"))
      .join(sizes.withColumnsRenamed(Map("id" -> "rb", "n" -> "n_b")), Seq("rb"))
      .withColumn("jaccard",
        col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("ra"), col("rb"), col("jaccard"))

    val cross = repPairs
      .join(members.select(col("rep").as("ra"), col("id").as("__ia")), Seq("ra"))
      .join(members.select(col("rep").as("rb"), col("id").as("__ib")), Seq("rb"))
      .select(least(col("__ia"), col("__ib")).as("id_a"),
        greatest(col("__ia"), col("__ib")).as("id_b"), col("jaccard"))
    // Within-clique pairs are 1.0 by definition — but only for cliques
    // whose representative still has ≥1 shingle after the stop-filter
    // (a doc made entirely of stop-shingles has an empty set; empty-set
    // jaccard is undefined and such docs emit no pairs at all, matching
    // the inner-join semantics of the cross-clique path).
    val eligible = sizes.select(col("id").as("rep"))
    val within = members.join(eligible, Seq("rep"))
      .select(col("rep"), col("id").as("id_a"))
      .join(members.select(col("rep"), col("id").as("id_b")), Seq("rep"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), lit(1.0d).as("jaccard"))
    cross.unionByName(within)
  }

  /** The KEPT corpus after near-dup clustering — the materialization a
    * pipeline actually writes out: cluster the minhash pair graph
    * (est_jaccard ≥ `threshold`) with connected components and keep one
    * canonical document per cluster (the min id, which IS the cluster
    * label), dropping every other member. Documents in no cluster pass
    * through untouched, so the operator is a single anti-join against
    * the (small) non-canonical member set — the corpus itself never
    * shuffles.
    */
  def dedupedCorpus(docs: DataFrame, idCol: String, textCol: String,
                    threshold: Double,
                    shingleN: Int = 3, k: Int = 16,
                    bands: Int = 4): DataFrame = {
    val pairs = minhashCandidates(docs, idCol, textCol, shingleN, k, bands)
      .filter(col("est_jaccard") >= threshold)
      .select(col("id_a").as("a"), col("id_b").as("b"))
    val drop = ConnectedComponents.labels(pairs)
      .filter(col("node") =!= col("cluster_id")) // min id stays
      .select(col("node").as(idCol))
    docs.join(drop, Seq(idCol), "left_anti")
  }

  /** PPJoin candidate generation (Bayardo et al. WWW'07 all-pairs;
    * Xiao et al. VLDB'08 PPJoin) — all three filters, fully
    * declarative. Input `sh` is the stop-filtered (id, shingle) frame
    * (one row per DISTINCT shingle per doc), `sizes` its per-id counts;
    * output is the distinct (ra < rb) pair frame that still needs exact
    * verification. Lossless: every pair with jaccard ≥ `threshold`
    * survives.
    *
    * 1. PREFIX filter. Under ANY global total order on shingles, two
    *    sets with jaccard ≥ t share an element within the first
    *    |X| − ⌈t·|X|⌉ + 1 elements of each set: the globally-smallest
    *    shared shingle is preceded in X only by non-shared shingles,
    *    and there are at most |X| − |A∩B| ≤ |X| − ⌈t·|X|⌉ of those.
    *    The order is (df asc, shingle asc) — rarest first — so the join
    *    fan-out concentrates on LOW-df keys. Asymmetric prefixes cut
    *    the fan-out further (PPJoin's indexing prefix): the pair's
    *    SMALLER set y also satisfies |A∩B| ≥ t/(1+t)·(|x|+|y|) ≥
    *    (2t/(1+t))·|y|, so its first shared element lies within the
    *    shorter mid-prefix |y| − ⌈(2t/(1+t))·|y|⌉ + 1. The join is
    *    therefore probe(basic prefix, larger side) ⋈ index(mid prefix,
    *    smaller side), size ties broken by id — each unordered pair
    *    meets exactly under one orientation. At t = 0.5 the mid prefix
    *    is ~n/3 vs the basic ~n/2: join rows drop by ~⅓ before any
    *    per-row filtering (measured on the 50k worst-case stress
    *    fixture: 97M basic² rows → 65M basic×mid rows; survivors after
    *    the two filters below: 20M).
    * 2. LENGTH filter. jaccard ≥ t ⟹ |A∩B| ≥ t·(|x|+|y|−|A∩B|) and
    *    |A∩B| ≤ min ⟹ min ≥ t·max: pairs whose sizes differ by more
    *    than the ratio t cannot qualify, whatever their overlap.
    * 3. POSITIONAL filter. When the pair meets at positions (px, py)
    *    of its first shared element, the overlap is bounded by
    *    1 + min(|x|−px, |y|−py); pairs where that bound is below the
    *    required α = ⌈t/(1+t)·(|x|+|y|)⌉ die inside the join stage. A
    *    true pair always survives: at its first shared element the
    *    remaining-overlap bound is ≥ α by construction. (The filter is
    *    applied to every meeting row and a pair survives if ANY row
    *    passes — weaker-or-equal pruning than the paper's first-match
    *    form, hence still lossless.)
    *
    * Every ceil carries a 1e-9 nudge so an fp-inflated ceil can only
    * ENLARGE a prefix / relax a bound (merely slower), never shrink one
    * (which would drop true pairs). Survivors are verified EXACTLY from
    * the full sorted shingle arrays downstream — bit-identical jaccard
    * to the all-shingle join, so the DuckDB oracle is untouched.
    */
  private[graft] def ppjoinCandidates(sh: DataFrame, sizes: DataFrame,
                                      threshold: Double): DataFrame = {
    val midFrac = 2.0 * threshold / (1.0 + threshold)
    val alphaFrac = threshold / (1.0 + threshold)
    val dfreq = sh.groupBy("shingle").agg(count(lit(1)).as("__df"))
    val prefixAll = sh.join(dfreq, Seq("shingle"))
      .withColumn("__pos", row_number().over(
        Window.partitionBy("id").orderBy(col("__df"), col("shingle"))))
      .join(sizes, Seq("id"))
      // widest prefix either role needs; role-specific bounds below
      .filter(col("__pos") <= col("n") - ceil(col("n") * threshold - 1e-9) + 1)
      .select(col("id"), col("shingle"), col("__pos"), col("n"))
      .localCheckpoint(eager = false) // probe + index read one compute
    val probe = prefixAll // basic prefix: pos ≤ n − ⌈t·n⌉ + 1
      .select(col("id").as("__xa"), col("shingle"),
        col("__pos").as("__pa"), col("n").as("__na"))
    val index = prefixAll // mid prefix: pos ≤ n − ⌈(2t/(1+t))·n⌉ + 1
      .filter(col("__pos") <= col("n") - ceil(col("n") * midFrac - 1e-9) + 1)
      .select(col("id").as("__xb"), col("shingle"),
        col("__pos").as("__pb"), col("n").as("__nb"))
    probe.join(index, Seq("shingle"))
      // probe strictly larger (ties by id): each unordered pair once,
      // in the orientation the mid-prefix derivation requires
      .filter(col("__na") > col("__nb") ||
        (col("__na") === col("__nb") && col("__xa") > col("__xb")))
      // length filter: min ≥ t·max (probe is the max side here)
      .filter(col("__nb").cast("double") >= col("__na") * threshold - 1e-9)
      // positional filter: remaining-overlap bound ≥ α
      .filter(lit(1L) + least(col("__na") - col("__pa"), col("__nb") - col("__pb")) >=
        ceil((col("__na") + col("__nb")) * alphaFrac - 1e-9))
      .select(least(col("__xa"), col("__xb")).as("ra"),
        greatest(col("__xa"), col("__xb")).as("rb"))
      .distinct()
  }

  /** X108: prefix-truncation duplicate detection — every distinct text
    * that is a STRICT prefix of another distinct text, paired with its
    * lexicographically first extension. The truncation twin of X1's
    * exact dedup: crawler re-fetches cut at different byte limits,
    * snippet/full-article pairs, and log-line truncations are prefix
    * dups, invisible to exact hashing and expensive for similarity
    * joins (a 10% prefix shares almost no shingles with its
    * extension).
    *
    * Correctness rests on a lexicographic fact: all strings extending
    * s sort CONTIGUOUSLY immediately after s among distinct strings
    * (any t with s < t < u, where u extends s, must itself extend s —
    * its first divergence from s would otherwise sort it outside the
    * [s, u] interval). So s is a prefix of some text iff its immediate
    * successor in the distinct-text order extends it, and ONE
    * adjacent-pair check per distinct text decides membership —
    * sorted-neighborhood with winSize = 1 ([[FuzzyJoin]]'s distributed
    * rank machinery: range partition + per-partition window +
    * broadcast offsets, no single-partition funnel), then a
    * `startswith` confirm on the gap-1 pairs. Candidates are exactly
    * |distinct texts| − 1 — linear by construction.
    *
    * @return (prefix_id, full_id, len_prefix, len_full): the min doc
    *         id of the prefix text, the min doc id of its first
    *         extension, and both lengths (len_prefix < len_full)
    */
  def prefixDupPairs(docs: DataFrame, idCol: String,
                     textCol: String): DataFrame = {
    val rep = docs.select(col(textCol).as("s"), col(idCol).as("id"))
      .filter(col("s").isNotNull)
      .groupBy(col("s")).agg(min(col("id")).as("id"))
      .localCheckpoint(eager = false) // forked: rank pass + two text joins
    FuzzyJoin.sortedNeighborhoodPairs(rep, "id", col("s"), winSize = 1)
      .join(rep.select(col("id").as("id_a"), col("s").as("__sa")), Seq("id_a"))
      .join(rep.select(col("id").as("id_b"), col("s").as("__sb")), Seq("id_b"))
      .filter(length(col("__sa")) < length(col("__sb")) &&
        col("__sb").startsWith(col("__sa")))
      .select(col("id_a").as("prefix_id"), col("id_b").as("full_id"),
        length(col("__sa")).cast("long").as("len_prefix"),
        length(col("__sb")).cast("long").as("len_full"))
  }

  /** X136: near-dup source overlap matrix — WHICH dumps copy from
    * which: any duplicate-pair frame (LSH candidates at a threshold in
    * practice) rolled up to unordered (source, source) pair counts.
    * The diagonal is a source's self-duplication rate; heavy
    * off-diagonal cells say two acquisitions crawl the same sites, the
    * decision input for dropping or down-weighting a whole dump before
    * mixing ([[provenanceDedup]] then executes the survivor policy at
    * the doc level).
    *
    * Dataflow: two id-keyed equi-joins attach sources to the pair
    * frame (join strategy left to AQE — the mapping side is corpus-
    * sized), then one map-side-combinable count onto the ≤ |sources|²
    * key. Unordered pairs canonicalize by (least, greatest) BEFORE
    * aggregation, so the matrix is triangular with no distinct pass.
    *
    * @return (src_a ≤ src_b, n_pairs)
    */
  /** X146: corpus self-similarity probe — the templated-corpus
    * detector (the cheap cousin of Self-BLEU): pair every document
    * with ONE hash-deterministic partner and measure exact trigram
    * Jaccard per pair. A high mean says the corpus is boilerplate
    * stamped from few templates even when no pair crosses a dedup
    * threshold; |docs| pairs instead of |docs|² makes it a probe you
    * can afford per release.
    *
    * Partner choice is [[graft.ops.GraphRank.negativeEdges]]'
    * discipline: dense index via the distributed rank, partner idx =
    * hash(idx) mod (n−1) skewed past self — bit-deterministic under
    * any layout. Each pair computes set Jaccard on DISTINCT shingle
    * arrays with engine set functions (array_intersect sizes — the
    * same values DuckDB's list_intersect yields on sorted-distinct
    * string lists).
    *
    * @return (id_a, id_b, n_a, n_b, n_common, jaccard_ppm) — one row
    *         per doc with ≥ 3 tokens; singleton-corpus inputs yield
    *         nothing
    */
  def selfSimilarityProbe(docs: DataFrame, idCol: String,
                          textCol: String): DataFrame = {
    val M = 1000003L
    val base = docs
      .select(col(idCol).as("id"),
        array_distinct(shingles(tokens(col(textCol)), 3)).as("sh"))
      .filter(size(col("sh")) >= 1)
      .localCheckpoint(eager = false) // forked: rank + both pair sides
    val keyed = base.select(struct(col("id").as("n")).as("__sk"), lit(1L).as("__one"))
    val idx = Packing.runningTotalsMulti(keyed, "__sk", Seq("__one"))
      .select(col("__id.n").as("id"), (col("__one_cum") - 1).as("idx"))
    val n = idx.agg(count(lit(1)).as("n_docs"))
    val withIdx = base.join(idx, Seq("id"))
      .crossJoin(broadcast(n))
      .filter(col("n_docs") >= 2)
      .localCheckpoint(eager = false) // forked: probe side + partner side
    val probes = withIdx.select(col("id").as("id_a"), col("sh").as("__sa"),
      // partner = (hash(idx) mod (n-1)), skipping self by shifting
      // values at/after own idx up by one
      ((((col("idx") % M) * 8191L + 524287L) % M) % (col("n_docs") - 1)).as("__p"),
      col("idx").as("__ia"))
      .withColumn("__pidx",
        when(col("__p") >= col("__ia"), col("__p") + 1).otherwise(col("__p")))
    probes.join(withIdx.select(col("idx").as("__pidx"), col("id").as("id_b"),
        col("sh").as("__sb")), Seq("__pidx"))
      .select(col("id_a"), col("id_b"),
        size(col("__sa")).cast("long").as("n_a"),
        size(col("__sb")).cast("long").as("n_b"),
        size(array_intersect(col("__sa"), col("__sb"))).cast("long").as("n_common"))
      .withColumn("jaccard_ppm",
        expr("n_common * 1000000 DIV (n_a + n_b - n_common)"))
  }

  /** X139: LSH s-curve planner — the collision-probability table
    * P(candidate | similarity s) = 1 − (1 − s^r)^b for a grid of
    * (bands, rows-per-band) configs: the a-priori tuning companion to
    * X111's a-posteriori calibration (pick (b, r) off this table, then
    * confirm precision/recall on a sample). Model-side arithmetic — no
    * data is read; the frame exists so the planner shares the oracle
    * contract like every other operator.
    *
    * Integer-exact: probabilities live in ppm and every power is the
    * truncating fold p ← p·s div 10⁶ (left-to-right, (e−1) steps),
    * reproduced verbatim by the oracle's list_reduce — so the table is
    * bit-identical in any engine, which a float pow cannot promise.
    *
    * @return (bands, rows_per_band, s_pct, collide_ppm) per config ×
    *         similarity grid point
    */
  def lshSCurvePpm(spark: org.apache.spark.sql.SparkSession,
                   configs: Seq[(Int, Int)], stepPct: Int = 5): DataFrame = {
    require(configs.nonEmpty, "lshSCurvePpm needs at least one (b, r) config")
    require(stepPct >= 1 && stepPct <= 50, s"grid step out of [1, 50]: $stepPct")
    require(configs.forall { case (b, r) => b >= 1 && r >= 1 },
      "bands and rows must be positive")
    def powPpm(base: Long, e: Int): Long =
      (1 until e).foldLeft(base)((a, _) => a * base / 1000000L)
    val rows = for {
      (b, r) <- configs
      s <- stepPct to 100 by stepPct
    } yield {
      val p1 = powPpm(s * 10000L, r)
      (b.toLong, r.toLong, s.toLong, 1000000L - powPpm(1000000L - p1, b))
    }
    import spark.implicits._
    rows.toDF("bands", "rows_per_band", "s_pct", "collide_ppm")
  }

  /** X137: dedup impact report — what a dedup pass WOULD remove,
    * before anyone commits to it: duplicate-cluster size histogram
    * with document and token savings under the keep-lowest-id survivor
    * policy (the policy every dedup op in this repo shares). The
    * capacity-planning answer to "is near-dedup at threshold t worth
    * the shuffle?" — run the candidate pair set, read the histogram,
    * then decide.
    *
    * Input is any cluster labeling (node, cluster_id) —
    * [[graft.ops.ConnectedComponents.labels]] output; docs absent from
    * it are singletons and appear nowhere (a singleton removes
    * nothing). One id-keyed join attaches weights, one cluster-key
    * aggregate computes size + survivor (window-free struct-min), one
    * ≤ |distinct sizes|-key rollup builds the histogram.
    *
    * @param weightCol per-doc cost (token count in practice)
    * @return (cluster_size, n_clusters, n_docs_removed, tokens_removed)
    */
  def dedupImpact(labels: DataFrame, docs: DataFrame, idCol: String,
                  weightCol: org.apache.spark.sql.Column): DataFrame = {
    val w = docs.select(col(idCol).as("node"), weightCol.cast("long").as("__w"))
    labels.join(w, Seq("node"))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("__k"), sum(col("__w")).as("__wsum"),
        min(struct(col("node").as("n"), col("__w").as("w"))).as("__surv"))
      .groupBy(col("__k").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("__k") - 1).as("n_docs_removed"),
        sum(col("__wsum") - col("__surv.w")).as("tokens_removed"))
  }

  /** X181: intra-corpus exact-substring self-dedup (the ExactSubstr
    * pass of Lee et al., ACL 2022 "Deduplicating Training Data Makes
    * Language Models Better"): every `windowTokens`-token window that
    * occurs MORE than once corpus-wide keeps its FIRST occurrence (the
    * minimal (doc_id, pos) in the deterministic total order) and is CUT
    * from every later one — within the same document or across
    * documents — then the remainder is re-digested. The difference
    * from document-level dedup: a boilerplate header shared by a
    * million pages costs each page its header, not the page; the
    * difference from [[dupSpanCoverage]]: that MEASURES, this ACTS.
    *
    * Shape: the token frame is materialized ONCE and forks into the
    * window probe and the scrub join (the q93 lesson). Windows ride as
    * fixed-width hashes — |tokens|-bounded, one start per token, never
    * quadratic; keep-first is a window-free MIN over the encoded
    * occurrence key `doc_id · 2²² + pos` on the hash key (map-side
    * combinable — no rank window, no self-join); later occurrences'
    * start positions compact to one bounded per-doc array; the cut is
    * a per-row lambda fold. A hash collision merges two windows
    * identically on both engines (dedup-family convention, mirrored by
    * the oracle). The occurrence encoding is guarded loudly: docs are
    * capped at 2²² tokens and ids at 2⁴⁰ so the key can never wrap —
    * a longer document belongs in chunked ingestion.
    *
    * @return (doc_id, n_tokens, n_kept, scrub_digest) for every doc
    *         with ≥ 1 token; `scrub_digest` is the polynomial hash of
    *         the space-rejoined kept tokens (0 when nothing is kept)
    */
  def selfScrub(docs: DataFrame, idCol: String, textCol: String,
                windowTokens: Int): DataFrame = {
    require(windowTokens >= 1,
      s"self-scrub window must be at least one token: $windowTokens")
    val toks = scrubToks(docs, idCol, textCol)
    val wins = scrubWins(toks, windowTokens)
    val firsts = wins.groupBy(col("__h"))
      .agg(min(col("__occ")).as("__f"), count(lit(1)).as("__c"))
      .filter(col("__c") > 1)
    val hits = wins.join(firsts, Seq("__h"))
      .filter(col("__occ") =!= col("__f"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("pos"))).as("__hits"))
    scrubCut(toks, hits, windowTokens)
  }

  /** Capped, checkpointed (doc_id, __toks) frame shared by the scrub
    * family — forked into the window probe and the scrub join. */
  private def scrubToks(docs: DataFrame, idCol: String,
                        textCol: String): DataFrame = {
    docs
      .select(col(idCol).cast("long").as("doc_id"),
        tokens(col(textCol)).as("__toks"))
      .filter(size(col("__toks")) >= 1)
      .withColumn("doc_id",
        when(col("doc_id") < 0 || col("doc_id") >= ScrubIdCap,
          raise_error(concat(
            lit("selfScrub: doc id out of [0, 2^40): "), col("doc_id"))))
          .otherwise(col("doc_id")))
      .withColumn("__toks",
        when(size(col("__toks")) >= ScrubPosCap, raise_error(concat(
          lit("selfScrub: document exceeds the 2^22-token cap: "),
          col("doc_id")))).otherwise(col("__toks")))
      .localCheckpoint(eager = false) // forked: window probe + scrub join
  }

  /** Checkpointed window-occurrence frame (doc_id, pos, __occ, __h) —
    * forked into the first-occurrence aggregate and the mark probe. */
  private def scrubWins(toks: DataFrame, windowTokens: Int): DataFrame =
    toks.filter(size(col("__toks")) >= windowTokens)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("__toks")) - lit(windowTokens - 1)),
        i => struct(i.as("pos"),
          charHash(concat_ws(" ", slice(col("__toks"), i, lit(windowTokens))))
            .as("h")))).as("__w"))
      .select(col("doc_id"), col("__w.pos").as("pos"),
        (col("doc_id") * ScrubPosCap + col("__w.pos")).as("__occ"),
        col("__w.h").as("__h"))
      .localCheckpoint(eager = false)

  /** The cut + re-digest tail shared by one-shot and incremental. */
  private def scrubCut(toks: DataFrame, hits: DataFrame,
                       windowTokens: Int): DataFrame =
    toks.join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), size(col("__toks")).cast("long").as("n_tokens"),
        filter(col("__toks"), (_, i) => !exists(
          coalesce(col("__hits"), array().cast("array<int>")),
          p => p <= i + 1 && i + 1 < p + windowTokens)).as("__kept"))
      .select(col("doc_id"), col("n_tokens"),
        size(col("__kept")).cast("long").as("n_kept"),
        when(size(col("__kept")) === 0, lit(0L))
          .otherwise(charHash(concat_ws(" ", col("__kept"))))
          .as("scrub_digest"))

  private val ScrubPosCap = 1L << 22
  private val ScrubIdCap = 1L << 40

  /** Persistable first-occurrence window index — [[selfScrubStep]]'s
    * state: one (__h, __occ) row per DISTINCT window ever seen (occ =
    * the window's first occurrence key). |index| = |distinct windows|,
    * hash-keyed, shard-mergeable by min — the exact analogue of
    * [[corpusBandIndex]] for the substring-dedup tier. */
  def selfScrubIndex(corpus: DataFrame, idCol: String, textCol: String,
                     windowTokens: Int): DataFrame = {
    require(windowTokens >= 1,
      s"self-scrub window must be at least one token: $windowTokens")
    scrubWins(scrubToks(corpus, idCol, textCol), windowTokens)
      .groupBy(col("__h")).agg(min(col("__occ")).as("__occ"))
  }

  /** The empty window index a fresh corpus starts from. */
  def emptyScrubIndex(spark: org.apache.spark.sql.SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("__h",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("__occ",
          org.apache.spark.sql.types.LongType))))

  final case class IncrementalScrub(scrubbed: DataFrame, index: DataFrame)

  /** X186: the incremental [[selfScrub]] step — what a continuously
    * ingesting pipeline runs per batch arrival: cut from each new
    * document every window the CORPUS has already seen (one equi-join
    * against the persisted index — history is never re-tokenized) plus
    * every within-batch repeat (the batch's own keep-first, so clones
    * arriving together don't slip through), then hand back the grown
    * index for the next arrival.
    *
    * Sequential composition is exact when batches arrive in increasing
    * doc-id order (the ingestion contract): step(B₂, step(B₁, ∅).index)
    * scrubs exactly like the one-shot selfScrub(B₁ ∪ B₂) — pinned in
    * spec over random batch cuts. Out-of-order ids keep a coherent
    * semantic — the EARLIER BATCH wins regardless of id — which is
    * what an append-only corpus means by "first".
    *
    * Shape: batch windows computed once (lazy checkpoint) and forked
    * three ways (batch-first aggregate, mark probe, index growth); the
    * index is touched only through the __h equi-join and the growth
    * anti-join — both hash-keyed, never corpus-proportional in the
    * batch's cost.
    */
  def selfScrubStep(newDocs: DataFrame, windowIndex: DataFrame,
                    idCol: String, textCol: String,
                    windowTokens: Int): IncrementalScrub = {
    require(windowTokens >= 1,
      s"self-scrub window must be at least one token: $windowTokens")
    val toks = scrubToks(newDocs, idCol, textCol)
    val wins = scrubWins(toks, windowTokens)
    val firstsB = wins.groupBy(col("__h")).agg(min(col("__occ")).as("__f"))
      .localCheckpoint(eager = false) // forked: mark probe + index growth
    val marked = wins
      .join(windowIndex.select(col("__h"), lit(1).as("__idx")),
        Seq("__h"), "left")
      .join(firstsB, Seq("__h"))
      .filter(col("__idx").isNotNull || col("__occ") =!= col("__f"))
      .select(col("doc_id"), col("pos"))
    val hits = marked.groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("pos"))).as("__hits"))
    val grown = windowIndex.unionByName(
      firstsB.join(windowIndex.select(col("__h")), Seq("__h"), "left_anti")
        .select(col("__h"), col("__f").as("__occ")))
    IncrementalScrub(scrubCut(toks, hits, windowTokens), grown)
  }

  def sourceOverlapMatrix(pairs: DataFrame, docSource: DataFrame,
                          idCol: String, sourceCol: String): DataFrame = {
    val src = docSource.select(col(idCol).as("__id"), col(sourceCol).as("__s"))
      .localCheckpoint(eager = false) // joined twice below
    pairs
      .join(src.select(col("__id").as("id_a"), col("__s").as("__sa")), Seq("id_a"))
      .join(src.select(col("__id").as("id_b"), col("__s").as("__sb")), Seq("id_b"))
      .select(least(col("__sa"), col("__sb")).as("src_a"),
        greatest(col("__sa"), col("__sb")).as("src_b"))
      .groupBy(col("src_a"), col("src_b")).agg(count(lit(1)).as("n_pairs"))
  }
}
