package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFeatures._

/** Benchmark decontamination — the overlap check a pretraining pipeline
  * runs before any evaluation claim: which training documents contain
  * n-grams from the held-out / benchmark set? (The GPT-3 appendix-C /
  * Llama "13-gram decontamination" recipe, re-expressed as a Spark
  * program.)
  *
  * Scale shape: the eval side of a decontamination run is tiny relative
  * to the corpus (benchmarks are thousands of documents; the corpus is
  * the 100 TB side), so its distinct n-gram hash set is BROADCAST and
  * the corpus is scanned exactly once — explode n-grams, hash-probe the
  * broadcast set, aggregate per document. No shuffle touches corpus
  * text; the only exchange is the per-doc count aggregation on the
  * fixed-width doc id, with map-side partial aggregation.
  */
object Contamination {

  /** Per-corpus-document overlap against `evalSet`'s n-gram set.
    *
    * N-grams are compared as their polynomial hashes (fixed-width probe
    * key; a collision flags an extra hit on both engines identically —
    * the standard hashed-shingling approximation, same as the dedup
    * family). Documents with fewer than `n` tokens have no n-grams and
    * are absent from the output, mirroring the shingle guard.
    *
    * @return (doc_id, n_ngrams, n_hits, contaminated): distinct n-gram
    *         count, how many of those appear anywhere in the eval set,
    *         and the 0/1 flag (any hit ⇒ contaminated).
    */
  /** Embedding-space decontamination — the semantic complement of
    * [[ngramOverlap]]: a paraphrased benchmark question shares no
    * 13-gram with its source but sits next to it in embedding space.
    * Same scale shape as the n-gram path: the eval side is broadcast,
    * the corpus embedding column is scanned exactly once, and the only
    * shuffle is the per-doc argmax aggregation on the fixed-width id.
    *
    * @return (`idCol`, near_seed, cosine, contaminated): each corpus
    *         doc's closest eval seed (ties → lower seed id), the cosine,
    *         and the 0/1 flag (cosine ≥ threshold).
    */
  def semanticOverlap(corpus: DataFrame, evalSet: DataFrame,
                      idCol: String, vecCol: String,
                      threshold: Double): DataFrame = {
    val c = corpus.select(col(idCol), col(vecCol).as("__cv"))
    val s = evalSet.select(col(idCol).as("near_seed"), col(vecCol).as("__sv"))
    // Partial-aggregable argmax: MIN over the struct (−cosine, seed)
    // picks the highest cosine with ties to the lower seed id — the
    // exact total order of the oracle's ROW_NUMBER (cosine DESC,
    // near_seed ASC) — but as a declarative aggregate, so map-side
    // combining reduces each partition to |corpus| rows BEFORE the
    // exchange. The window spelling this replaces shuffled the whole
    // |corpus|·|eval| cross product into the partitioner.
    // NULL-cosine guard: a zero-norm vector makes cosine NULL, and a
    // bare struct-min would sort that NULL FIRST (asc-nulls-first) —
    // inverting the window/oracle's desc-NULLS-LAST. Coalescing the
    // sort key to +MaxValue keeps degenerate seeds from ever winning
    // while all-NULL rows still resolve to the lowest seed id, exactly
    // as ROW_NUMBER(cosine DESC, near_seed ASC) does.
    c.crossJoin(broadcast(s))
      .withColumn("cosine", Similarity.cosine(col("__cv"), col("__sv")))
      .groupBy(col(idCol))
      .agg(min(struct(coalesce(-col("cosine"), lit(Double.MaxValue)).as("__nc"),
        col("near_seed"), col("cosine"))).as("__m"))
      .select(col(idCol), col("__m.near_seed").as("near_seed"),
        col("__m.cosine").as("cosine"),
        (col("__m.cosine") >= threshold).cast("long").as("contaminated"))
  }

  def ngramOverlap(corpus: DataFrame, evalSet: DataFrame,
                   idCol: String, textCol: String, n: Int): DataFrame = {
    def grams(df: DataFrame): DataFrame = df.select(
      col(idCol).as("doc_id"),
      explode(array_distinct(transform(
        shingles(tokens(col(textCol)), n), s => charHash(s)))).as("__g"))
    val evalGrams = grams(evalSet).select(col("__g")).distinct()
      .withColumn("__hit", lit(1L))
    grams(corpus)
      .join(broadcast(evalGrams), Seq("__g"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_ngrams"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_hits"))
      .withColumn("contaminated", (col("n_hits") > 0).cast("long"))
  }

  /** Asymmetric shingle CONTAINMENT of each eval document inside corpus
    * documents: |S_A ∩ S_B| / |S_A| in ppm for eval doc A and corpus
    * doc B — the quote/subset detector symmetric Jaccard (X4) misses:
    * a benchmark question embedded verbatim in a 10× longer page has
    * Jaccard ≈ 0.1 but containment ≈ 1.0.
    *
    * Candidates come from the shingle-hash equi-join only (never
    * |eval|·|corpus|), with the q24 stop-shingle cap on CORPUS document
    * frequency bounding the hot-key fan-out; capped shingles leave BOTH
    * sides and the denominator, so the score is "containment over
    * non-ubiquitous shingles" — deterministic, mirrored by the oracle.
    * The ppm quotient is a truncating integer DIV on non-negative
    * operands (engine-identical).
    *
    * @return (id_a eval, id_b corpus, n_inter, n_a, contain_ppm) with
    *         contain_ppm ≥ `minContainPpm`
    */
  def containmentPairs(corpus: DataFrame, evalSet: DataFrame,
                       idCol: String, textCol: String, shingleN: Int,
                       minContainPpm: Long, maxShingleDf: Long): DataFrame = {
    require(shingleN >= 1, "containmentPairs needs shingleN >= 1")
    require(maxShingleDf >= 1, "containmentPairs needs maxShingleDf >= 1")
    def sh(df: DataFrame, out: String): DataFrame = df
      .select(col(idCol).as(out), tokens(col(textCol)).as("__toks"))
      .filter(size(col("__toks")) >= shingleN)
      .select(col(out), explode(array_distinct(transform(
        shingles(col("__toks"), shingleN), s => charHash(s)))).as("shingle"))
    // corpus shingles feed BOTH the df cap and the join — one compute
    val corpSh = sh(corpus, "id_b").localCheckpoint(eager = false)
    val stop = corpSh.groupBy(col("shingle"))
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") > maxShingleDf).select(col("shingle"))
      .localCheckpoint(eager = false) // probed by both sides
    val evalKept = sh(evalSet, "id_a")
      .join(stop, Seq("shingle"), "left_anti")
      .localCheckpoint(eager = false) // sizes + intersection share it
    val sizes = evalKept.groupBy(col("id_a")).agg(count(lit(1)).as("n_a"))
    evalKept.join(corpSh.join(stop, Seq("shingle"), "left_anti"), Seq("shingle"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("n_inter"))
      .join(sizes, Seq("id_a"))
      .select(col("id_a"), col("id_b"), col("n_inter"), col("n_a"),
        expr("(n_inter * 1000000) DIV n_a").as("contain_ppm"))
      .filter(col("contain_ppm") >= minContainPpm)
  }

  /** X163: contamination span locator — WHERE the leak is, not just
    * that it exists: [[ngramOverlap]] flags a contaminated document;
    * this returns the token extent of every eval-set n-gram hit,
    * merged into covered spans (X90's running-max interval sweep), so
    * an audit can read "tokens 812–1041 of doc 7 are benchmark text"
    * and a scrub pass can cut the span instead of dropping the doc.
    *
    * Shape: corpus n-gram windows (pos, hash) semi-join the DISTINCT
    * eval gram-hash set (left to AQE — an eval suite is small but
    * unbounded, never force-broadcast); survivors per doc feed the
    * bounded per-doc sweep window. Only contaminated docs produce
    * rows — clean corpus volume dies at the semi-join.
    *
    * @return (doc_id, n_tokens, n_hit_windows, covered_tokens,
    *         coverage_ppm) for every doc with ≥ 1 hit
    */
  /** Span scrub — the composition [[contaminationSpans]] promises:
    * locate every eval-set n-gram hit, CUT the covered token extent
    * out of the document, and re-digest what remains — so the corpus
    * keeps the document minus the benchmark text instead of dropping
    * it whole (the recall-preserving decontamination a 100 TB corpus
    * wants: most contaminated pages are 99% original).
    *
    * Shape: the window probe is [[contaminationSpans]]' semi-join
    * (clean corpus volume never leaves the scan); hit START positions
    * compact to one sorted per-doc array (≤ tokens-per-doc, bounded by
    * document length, never corpus-proportional); the cut is a
    * per-row lambda fold over (token, hit-array) — no shuffle carries
    * text except the doc-keyed hit join. Docs with no hit pass through
    * with their full token stream re-digested, so the output is the
    * WHOLE scrubbed corpus, not just the contaminated slice.
    *
    * @return (doc_id, n_tokens, n_kept, scrub_digest) for every doc
    *         with ≥ 1 token; `scrub_digest` is the polynomial hash of
    *         the space-rejoined kept tokens (0 when nothing is kept —
    *         the fully-benchmark document)
    */
  def scrubSpans(corpus: DataFrame, evalSet: DataFrame,
                 idCol: String, textCol: String, n: Int): DataFrame = {
    require(n >= 1, s"span n-gram size must be positive: $n")
    val evalGrams = evalSet.select(
      explode(array_distinct(transform(
        shingles(tokens(col(textCol)), n), s => charHash(s)))).as("__g"))
      .distinct()
    val toks = corpus
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("__toks"))
      .filter(size(col("__toks")) >= 1)
      .localCheckpoint(eager = false) // forked: window probe + scrub join
    val hits = toks.filter(size(col("__toks")) >= n)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("__toks")) - lit(n - 1)), i => struct(
          i.as("pos"),
          charHash(concat_ws(" ", slice(col("__toks"), i, lit(n))))
            .as("h")))).as("__w"))
      .select(col("doc_id"), col("__w.pos").as("pos"), col("__w.h").as("__g"))
      .join(evalGrams, Seq("__g"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("pos"))).as("__hits"))
    toks.join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), size(col("__toks")).cast("long").as("n_tokens"),
        filter(col("__toks"), (_, i) => !exists(
          coalesce(col("__hits"), array().cast("array<int>")),
          p => p <= i + 1 && i + 1 < p + n)).as("__kept"))
      .select(col("doc_id"), col("n_tokens"),
        size(col("__kept")).cast("long").as("n_kept"),
        when(size(col("__kept")) === 0, lit(0L))
          .otherwise(charHash(concat_ws(" ", col("__kept"))))
          .as("scrub_digest"))
  }

  def contaminationSpans(corpus: DataFrame, evalSet: DataFrame,
                         idCol: String, textCol: String,
                         n: Int): DataFrame = {
    require(n >= 1, s"span n-gram size must be positive: $n")
    val evalGrams = evalSet.select(
      explode(array_distinct(transform(
        shingles(tokens(col(textCol)), n), s => charHash(s)))).as("__g"))
      .distinct()
    val wins = corpus
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("__toks"))
      .filter(size(col("__toks")) >= n)
      .select(col("doc_id"), size(col("__toks")).cast("long").as("n_tokens"),
        explode(transform(
          sequence(lit(1), size(col("__toks")) - lit(n - 1)), i => struct(
            i.as("pos"),
            charHash(concat_ws(" ", slice(col("__toks"), i, lit(n))))
              .as("h")))).as("__w"))
      .select(col("doc_id"), col("n_tokens"),
        col("__w.pos").as("pos"), col("__w.h").as("__g"))
    val sweep = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    wins.join(evalGrams, Seq("__g"), "left_semi")
      .withColumn("__prevEnd", max(col("pos") + lit(n)).over(sweep))
      .withColumn("__cov", greatest(lit(0),
        col("pos") + lit(n) -
          greatest(coalesce(col("__prevEnd"), col("pos")), col("pos"))))
      .groupBy("doc_id")
      .agg(first(col("n_tokens")).as("n_tokens"),
        count(lit(1)).as("n_hit_windows"),
        sum(col("__cov")).cast("long").as("covered_tokens"))
      .select(col("doc_id"), col("n_tokens"), col("n_hit_windows"),
        col("covered_tokens"),
        expr("(covered_tokens * 1000000) div n_tokens").as("coverage_ppm"))
  }
}
