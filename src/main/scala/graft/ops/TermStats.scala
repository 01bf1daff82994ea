package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFeatures

/** Corpus-level term statistics for training-data curation: TF-IDF
  * top-terms per document and deterministic stratified sampling.
  *
  * Scale shape: both are two-shuffle programs. TF-IDF is
  * (doc, term)-grouped counts joined with a term-grouped document
  * frequency — the term side is vocabulary-sized (≪ corpus at 100 TB,
  * but unbounded: join strategy is left to AQE, never force-broadcast);
  * sampling is one window per stratum.
  */
object TermStats {

  /** Top-`k` TF-IDF terms per document.
    *
    * The idf is the RATIONAL smooth variant `(N+1)/(df+1)` rather than
    * its logarithm — a deliberate, documented variant: one double
    * division is computed identically (IEEE round-to-nearest) by every
    * engine, while `ln` is only guaranteed faithful per math library,
    * so the score stays bit-reproducible in the DuckDB oracle. Note the
    * tf·idf PRODUCT ranking is NOT identical to log-idf TF-IDF (the
    * rational form weights rare terms more aggressively); swap the
    * score expression for `tf * (ln((N+1)/(df+1)) + 1)` when classic
    * ranking matters more than cross-engine bit-equality.
    *
    * Ties rank deterministically by (score desc, term asc).
    *
    * Plan shape: ONE scan of the source. `base` (tokenized docs) is
    * materialized and feeds both the corpus count and the (doc, term)
    * aggregate; `tf` is materialized because it forks (its own
    * term-aggregate joins back to it — unmaterialized, Catalyst would
    * run the scan+explode+aggregate subtree twice). The df side is
    * vocabulary-sized but UNBOUNDED (URLs, typos, code tokens at web
    * scale), so it is NOT force-broadcast: AQE picks the join strategy
    * from the observed size.
    */
  def tfidfTopTerms(docs: DataFrame, idCol: String, textCol: String,
                    k: Int = 3): DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"),
        TextFeatures.tokens(col(textCol)).as("__toks"))
      .localCheckpoint() // read twice: corpus count + term explode
    // row count, NOT distinct-id count: matches the oracle's count(*)
    // exactly (a duplicate-id input is the caller's bug, and silently
    // diverging from the oracle would mask it). Counting the checkpoint
    // costs no second source scan.
    val n = base.count()
    val tf = base
      .select(col("doc_id"), explode(col("__toks")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint() // forked: df aggregate + the join below
    val df_ = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val scored = tf.join(df_, Seq("term"))
      .withColumn("score",
        (col("tf") * (n + 1)).cast("double") / (col("df") + 1))
    scored
      .withColumn("rnk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("score").desc, col("term").asc))
        .cast("long"))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("term"), col("rnk"), col("score"))
  }

  /** BM25 relevance of every document against a fixed query-term set —
    * the retrieval scorer of a curation pipeline ("rank the corpus
    * against this probe query"). Same two-shuffle shape as TF-IDF; the
    * df side is |queryTerms| rows and broadcast.
    *
    * Determinism: the idf is the Robertson form WITHOUT the log
    * (`(N - df + 0.5)/(df + 0.5)` — documented variant, same
    * cross-engine argument as [[tfidfTopTerms]]), every division/
    * multiplication has a fixed association order, and per-term scores
    * are FLOOR-QUANTIZED to longs before the per-doc sum — double
    * addition is order-sensitive, so the quantized integer sum is what
    * makes the total exact under any partial-aggregate merge order.
    *
    * @return (doc_id, bm25_q, rnk): top `topK` docs by quantized score
    *         (ties → lower doc_id), bm25_q = Σ floor(term_score·1e6).
    */
  def bm25Rank(docs: DataFrame, idCol: String, textCol: String,
               queryTerms: Seq[String], k1: Double = 1.2, b: Double = 0.75,
               topK: Int = 100): DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"),
        TextFeatures.tokens(col(textCol)).as("__toks"))
      .select(col("doc_id"), col("__toks"), size(col("__toks")).cast("long").as("dl"))
      .localCheckpoint() // read twice: corpus stats + per-term scores
    val n = base.count()
    val sumDl = base.agg(sum(col("dl"))).head().getLong(0)
    val avgdl = sumDl.toDouble / n
    val tf = base
      .select(col("doc_id"), col("dl"), explode(col("__toks")).as("term"))
      .filter(col("term").isin(queryTerms.map(lit(_)): _*))
      .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
      // Forked: the score join AND the df aggregate — without this the
      // corpus-volume explode under the aggregate runs twice (the q93
      // fork discipline); post-agg the frame is ≤ |docs|·|queryTerms|.
      .localCheckpoint(eager = false)
    val df_ = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val idf = (lit(n) - col("df") + lit(0.5)) / (col("df") + lit(0.5))
    val tfPart = (col("tf") * lit(k1 + 1)) /
      (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / lit(avgdl)))
    // global top-K via sort+limit (TakeOrderedAndProject: per-partition
    // top-K then a single merge — NOT a one-partition window over the
    // whole corpus); the rank window then runs over ≤ topK rows.
    tf.join(broadcast(df_), Seq("term"))
      .withColumn("__sq", floor(idf * tfPart * lit(1e6)))
      .groupBy("doc_id").agg(sum(col("__sq")).as("bm25_q"))
      .orderBy(col("bm25_q").desc, col("doc_id").asc).limit(topK)
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("bm25_q").desc, col("doc_id").asc)).cast("long"))
      .select(col("doc_id"), col("bm25_q"), col("rnk"))
  }

  /** Gopher-style repetition signals (Rae et al. 2021 §A1.1 quality
    * filters): how much of a document is the same n-gram repeated?
    * High top-bigram share or duplicate-trigram share marks boilerplate
    * and degenerate (looping) text — a standard pretraining gate.
    *
    * Computed by explode + two-level aggregation, NOT a per-row O(L²)
    * array walk: documents at corpus scale can be 100k tokens, and the
    * (doc, gram) count path keeps per-row work linear while map-side
    * partial aggregation collapses the fan-out before the shuffle.
    * N-grams ride as polynomial hashes (fixed-width shuffle key).
    *
    * Fractions are emitted floor-quantized to parts-per-million in
    * integer arithmetic (`x*1e6 div total`) — bit-exact on any engine,
    * no float division in the contract.
    *
    * @return (doc_id, n_bigrams, top_bigram_n, top_bigram_frac_q,
    *         n_trigrams, dup_trigram_n, dup_trigram_frac_q) for docs
    *         with ≥ 3 tokens (both gram orders defined).
    */
  def repetitionStats(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val base = docs
      .select(col(idCol).as("doc_id"), TextFeatures.tokens(col(textCol)).as("__toks"))
      .filter(size(col("__toks")) >= 3)
      .localCheckpoint() // read twice (bigram + trigram passes)
    def gramCounts(n: Int) = base
      .select(col("doc_id"), explode(transform(
        TextFeatures.shingles(col("__toks"), n), s => TextFeatures.charHash(s))).as("__g"))
      .groupBy(col("doc_id"), col("__g")).agg(count(lit(1)).as("c"))
    val bi = gramCounts(2).groupBy("doc_id")
      .agg(sum(col("c")).as("n_bigrams"), max(col("c")).as("top_bigram_n"))
    val tri = gramCounts(3).groupBy("doc_id")
      .agg(sum(col("c")).as("n_trigrams"),
        sum(when(col("c") > 1, col("c")).otherwise(lit(0L))).as("dup_trigram_n"))
    bi.join(tri, Seq("doc_id"))
      .withColumn("top_bigram_frac_q", expr("top_bigram_n * 1000000 DIV n_bigrams"))
      .withColumn("dup_trigram_frac_q", expr("dup_trigram_n * 1000000 DIV n_trigrams"))
  }

  /** X188: char-n-gram concentration — the LOG-FREE per-document
    * character-distribution profile that separates three populations
    * the token-grain gates (X27 repetition, X9 quality ratios) cannot:
    * stamped/templated text reads HIGH concentration (few grams own the
    * mass), natural prose sits in a language-typical band, and encoded
    * noise (base64/hex blobs, minified payloads) reads LOW concentration
    * with a HIGH distinct ratio — near-uniform over a wide gram set.
    * Concentration is the Simpson index Σc²·10⁶ div n² (X122's exact
    * rational at the per-doc char grain — no entropy logarithm), so both
    * engines land the same integer.
    *
    * Dataflow: grams ride as polynomial hashes (the shuffle key is a
    * long, never the gram text), ONE map-side-combinable (doc, gram)
    * count, one doc-grain rollup; DECIMAL(38,0) squares so the 2²²-token
    * documents the dedup tier admits cannot overflow.
    *
    * @return (doc_id, n_grams, n_distinct, concentration_ppm,
    *         distinct_ppm) for docs with at least `n` chars
    */
  def charGramConcentration(docs: DataFrame, idCol: String,
                            textCol: String, n: Int): DataFrame = {
    require(n >= 1, s"char-gram width must be at least 1: $n")
    docs.select(col(idCol).as("doc_id"), col(textCol).as("__t"))
      .filter(length(col("__t")) >= n)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), length(col("__t")) - lit(n - 1)),
        i => TextFeatures.charHash(col("__t").substr(i, lit(n))))).as("__g"))
      .groupBy(col("doc_id"), col("__g")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_grams"), count(lit(1)).as("n_distinct"),
        sum(expr("cast(c as decimal(38,0)) * c")).as("__ss"))
      .select(col("doc_id"), col("n_grams"), col("n_distinct"),
        expr("(__ss * 1000000) div (cast(n_grams as decimal(38,0)) * n_grams)")
          .cast("long").as("concentration_ppm"),
        expr("(cast(n_distinct as decimal(38,0)) * 1000000) div n_grams")
          .cast("long").as("distinct_ppm"))
  }

  /** Inverted index (posting lists): term → document frequency + the
    * ordered list of containing doc ids — the retrieval-side artifact a
    * curation pipeline materializes once and probes many times.
    *
    * Scale guards are part of the operator, not an afterthought: the
    * posting list of a stop-term is corpus-sized (billions of ids at
    * 100 TB — a single unbuildable row), so terms outside
    * [minDf, maxDf] are dropped BEFORE collect_list runs; the surviving
    * lists are ≤ maxDf ids by construction. Postings are emitted as a
    * comma-joined string (deterministic id order) so the row is
    * flat-comparable across engines.
    *
    * Two shuffles: distinct (term, doc) pairs, then the term group.
    */
  def invertedIndex(docs: DataFrame, idCol: String, textCol: String,
                    minDf: Long = 2, maxDf: Long = 100): DataFrame = {
    val termDoc = docs
      .select(col(idCol).as("doc_id"),
        explode(array_distinct(TextFeatures.tokens(col(textCol)))).as("term"))
      .localCheckpoint() // forked: df aggregate + the banded collect below
    // Band filter FIRST, as a counts-only aggregate: a stop-term's
    // posting list is corpus-sized, and building it just to drop it is
    // the scale hazard. Only surviving terms reach collect_list, so no
    // in-flight list exceeds maxDf ids.
    val banded = termDoc.groupBy("term").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf && col("df") <= maxDf)
    termDoc.join(banded, Seq("term"))
      .groupBy("term")
      .agg(max(col("df")).as("df"), collect_list(col("doc_id")).as("__ids"))
      .select(col("term"), col("df"),
        array_join(transform(sort_array(col("__ids")), _.cast("string")), ",")
          .as("postings"))
  }

  /** X87: positional phrase match — the inverted index's READ path:
    * which documents contain the exact token sequence `phrase`, how
    * many times, and where it first starts (1-based). The retrieval /
    * quote-finding primitive next to X30's index build, with token
    * (not substring) semantics: "sort merge" never matches inside
    * "resort merged".
    *
    * Shape: one posexplode emits (doc, pos, token); each phrase word
    * keeps ONLY its own postings (the filter folds into the explode
    * projection, so a w-word phrase scans the corpus once and carries
    * Σ df(wᵢ) rows); occurrences chain by (doc, pos+i) equi-joins —
    * positional intersection, the standard phrase-query plan. Work is
    * bounded by the RAREST word's postings after the first join, never
    * by corpus size.
    *
    * @return (doc_id, n_matches, first_pos) for matching docs only
    */
  def phraseMatch(docs: DataFrame, idCol: String, textCol: String,
                  phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phraseMatch needs at least one token")
    val tok = docs
      .select(col(idCol).as("doc_id"),
        posexplode(TextFeatures.tokens(col(textCol))).as(Seq("__p", "__w")))
      .select(col("doc_id"), (col("__p") + 1).cast("long").as("pos"), col("__w"))
      .localCheckpoint(eager = false) // one explode feeds every word's postings
    def word(i: Int): DataFrame = tok
      .filter(col("__w") === phrase(i))
      .select(col("doc_id"), (col("pos") - i).as("__start"))
    phrase.indices.tail
      .foldLeft(word(0)) { (acc, i) =>
        acc.join(word(i), Seq("doc_id", "__start"))
      }
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_matches"), min(col("__start")).as("first_pos"))
  }

  /** X89: sparse all-pairs cosine similarity over the df-gated
    * vocabulary — the all-pairs similarity search of Bayardo, Ma &
    * Srikant (WWW'07), the exact-similarity complement of the LSH
    * family: every document pair whose tf-vector cosine (restricted to
    * terms with 2 ≤ df ≤ `maxDf`) clears `tauMilli`/1000. The
    * template-detection / near-dup-audit primitive when candidates
    * must be EXACT, not probabilistic.
    *
    * The df gate IS the similarity space, not just a candidate filter:
    * df=1 terms cannot pair (lossless drop), and df > `maxDf` terms
    * are stop terms excluded from the score — the standard stopword
    * cut, mirrored verbatim by the oracle. That makes the posting-list
    * self-join's output ≤ Σ_gated df(t)² ≤ maxDf · Σ df(t) — LINEAR in
    * corpus size for fixed maxDf, never |docs|².
    *
    * Integer-exact: tf vectors are longs, the dot and both squared
    * norms are long sums (map-side combinable), and the cosine test is
    * cross-multiplied — dot²·10⁶ ≥ τ²·‖a‖²·‖b‖² — in DECIMAL(38,0)
    * (the Spectral discipline; sqrt never happens). Fits 38 digits
    * whenever per-doc token counts stay ≤ ~10⁶ (dot ≤ len_a·len_b).
    *
    * Plan shape: ONE scan → tf aggregate (forked: df gate + postings);
    * the gate joins BELOW the self-join so stop-term postings never
    * enter it (plan-guarded); norms ride a doc-keyed join left to AQE.
    *
    * @return (doc_a, doc_b, dot, n2_a, n2_b) for qualifying pairs,
    *         doc_a < doc_b
    */
  def allPairsCosine(docs: DataFrame, idCol: String, textCol: String,
                     tauMilli: Long = 600, maxDf: Long = 100): DataFrame = {
    require(tauMilli > 0 && tauMilli <= 1000,
      s"tauMilli is a cosine in milli-units (0, 1000]: $tauMilli")
    require(maxDf >= 2, s"maxDf < 2 gates out every pairable term: $maxDf")
    val tf = docs
      .select(col(idCol).as("doc_id"),
        explode(TextFeatures.tokens(col(textCol))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint(eager = false) // forked: df gate + gated postings
    val gated = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= maxDf)
      .select("term")
    val postings = tf.join(gated, Seq("term"))
      .localCheckpoint(eager = false) // forked: norms + both join sides
    val norms = postings.groupBy("doc_id")
      .agg(sum(col("tf") * col("tf")).as("n2"))
    val dots = postings.select(col("term"), col("doc_id").as("doc_a"), col("tf").as("tf_a"))
      .join(postings.select(col("term"), col("doc_id").as("doc_b"), col("tf").as("tf_b")),
        Seq("term"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(sum(col("tf_a") * col("tf_b")).as("dot"))
    def dec(c: Column): Column =
      c.cast(org.apache.spark.sql.types.DecimalType(38, 0))
    dots
      .join(norms.select(col("doc_id").as("doc_a"), col("n2").as("n2_a")), Seq("doc_a"))
      .join(norms.select(col("doc_id").as("doc_b"), col("n2").as("n2_b")), Seq("doc_b"))
      .filter(dec(col("dot")) * dec(col("dot")) * dec(lit(1000000L)) >=
        dec(lit(tauMilli * tauMilli)) * dec(col("n2_a")) * dec(col("n2_b")))
      .select(col("doc_a"), col("doc_b"), col("dot"), col("n2_a"), col("n2_b"))
  }

  /** Bigram language-model surprisal score — perplexity-style quality
    * filtering (the CCNet/KenLM gate) without the logarithm, so the
    * score is bit-exact across engines: the corpus itself is the model
    * (c2 = bigram count, c1 = count of the bigram's FIRST token in
    * non-final position, so p = c2/c1 is a proper conditional), and a
    * document's score is the mean floor-quantized probability of its
    * bigram occurrences — Σ floor(1e6·c2/c1) DIV n. Integer sums are
    * merge-order-exact; low score = improbable-under-the-corpus text
    * (the filter signal; classic log-perplexity needs only a libm swap
    * at the final projection if ranking compatibility matters).
    *
    * Plan shape (the q37 lesson): the bigram explode is materialized
    * ONCE and forks into the model counts and the per-doc scoring join;
    * model sides are vocabulary²-bounded but unbounded in general, so
    * join strategy is left to AQE — nothing is force-broadcast.
    */
  def bigramLmScore(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // (doc, prefix-hash, bigram-hash) occurrence counts. Bigrams ride as
    // fixed-width hashes (the dedup-family convention): a collision
    // merges two bigrams identically in the model AND the scoring pass,
    // mirrored by the oracle.
    val occ = docs
      .select(col(idCol).as("doc_id"), TextFeatures.tokens(col(textCol)).as("__toks"))
      .filter(size(col("__toks")) >= 2)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("__toks")) - 1), i => struct(
          TextFeatures.charHash(element_at(col("__toks"), i)).as("h1"),
          TextFeatures.charHash(concat(element_at(col("__toks"), i), lit(" "),
            element_at(col("__toks"), i + 1))).as("h2")))).as("__b"))
      .select(col("doc_id"), col("__b.h1").as("__h1"), col("__b.h2").as("__h2"))
      .groupBy("doc_id", "__h1", "__h2").agg(count(lit(1)).as("m"))
      .localCheckpoint() // forks three ways: c1 model, c2 model, scoring
    val c1 = occ.groupBy("__h1").agg(sum(col("m")).as("c1"))
    val c2 = occ.groupBy("__h1", "__h2").agg(sum(col("m")).as("c2"))
    occ
      .join(c2, Seq("__h1", "__h2"))
      .join(c1, Seq("__h1"))
      .withColumn("__pq", expr("m * (c2 * 1000000 DIV c1)"))
      .groupBy("doc_id")
      .agg(sum(col("m")).as("n_bigrams"), sum(col("__pq")).as("__sum_pq"))
      .withColumn("mean_p_q", expr("__sum_pq DIV n_bigrams"))
      .select(col("doc_id"), col("n_bigrams"), col("mean_p_q"))
  }

  /** PMI collocations (Church & Hanks 1990): the corpus's most
    * associated adjacent token pairs. PMI = log of the lift ratio
    * c_ab·U² / (c_a·c_b·N) (c = occurrence counts, U/N = total
    * unigram/bigram occurrences); log is monotone, so ranking by the
    * EXACT ppm-quantized ratio — one DECIMAL(38,0) multiply chain, one
    * truncating division, no floats — yields the identical ordering
    * with none of log's cross-engine drift. Magnitude: the numerator is
    * c_ab·U²·10⁶ ≤ U³·10⁶, inside DECIMAL(38,0) up to U ≈ 10¹⁰ token
    * occurrences per corpus slice (enforced; a 100 TB corpus computes
    * PMI per shard/source slice at that bound, which is also where a
    * single global vocabulary stops making sense).
    *
    * Physical shape: unigram and bigram counts are vocab-bounded
    * aggregates off one occurrence pass; the score join is c2 ⋈ c1 ⋈ c1
    * on token keys (AQE broadcasts the smaller sides); the scalar U/N
    * totals ride in via a broadcast cross join; top-K lands in
    * TakeOrderedAndProject. Surface bigrams (not hashes) travel — the
    * output is human-readable collocations, and the aggregate keys are
    * vocabulary-sized, not corpus-sized.
    *
    * @return top `topK` rows (bigram, c_ab, lift_ppm) with c_ab ≥
    *         `minCount`, ordered by (lift_ppm DESC, bigram ASC).
    */
  def pmiCollocations(docs: DataFrame, idCol: String, textCol: String,
                      minCount: Long = 5, topK: Int = 50): DataFrame = {
    val toks = docs
      .select(col(idCol).as("doc_id"), TextFeatures.tokens(col(textCol)).as("__toks"))
      .localCheckpoint() // forked: unigram and bigram occurrence passes
    val uni = toks.select(explode(col("__toks")).as("t"))
    // Totals derive from the grouped counts (Σ c == row count of the
    // explode), so each corpus-volume explode is consumed exactly ONCE
    // and the forks ride the vocab-bounded count frames — without
    // this, uni and big each ran twice (count pass + total pass).
    val c1 = uni.groupBy("t").agg(count(lit(1)).as("c"))
      .localCheckpoint(eager = false) // forked: total + both unigram joins
    val uTot = c1.agg(sum(col("c")).cast("decimal(38,0)").as("u"))
    val big = toks.filter(size(col("__toks")) >= 2)
      .select(explode(transform(
        sequence(lit(1), size(col("__toks")) - 1), i => struct(
          element_at(col("__toks"), i).as("a"),
          element_at(col("__toks"), i + 1).as("b")))).as("__b"))
      .select(col("__b.a").as("a"), col("__b.b").as("b"))
    val c2 = big.groupBy("a", "b").agg(count(lit(1)).as("c_ab"))
      .localCheckpoint(eager = false) // forked: total + the scored join
    val nTot = c2.agg(sum(col("c_ab")).cast("decimal(38,0)").as("n"))
    c2.filter(col("c_ab") >= minCount)
      .join(c1.withColumnRenamed("t", "a").withColumnRenamed("c", "c_a"), Seq("a"))
      .join(c1.withColumnRenamed("t", "b").withColumnRenamed("c", "c_b"), Seq("b"))
      .crossJoin(broadcast(uTot)).crossJoin(broadcast(nTot))
      // The magnitude guard rides the (vocab-bounded) scored rows — no
      // extra corpus pass, fails loudly the moment the bound is crossed.
      .withColumn("lift_ppm",
        when(col("u") > lit(10000000000L).cast("decimal(38,0)"), raise_error(lit(
          "PMI magnitude bound: compute per corpus slice below 1e10 token occurrences")))
        .otherwise(expr(
          "CAST((CAST(c_ab AS decimal(38,0)) * u * u * 1000000) DIV " +
            "(CAST(c_a AS decimal(38,0)) * c_b * n) AS BIGINT)")))
      .select(concat(col("a"), lit(" "), col("b")).as("bigram"),
        col("c_ab"), col("lift_ppm"))
      .orderBy(col("lift_ppm").desc, col("bigram").asc)
      .limit(topK)
  }

  /** Deterministic stratified head-sample: the first `perStratum` rows
    * of each stratum under (orderHash asc, id asc) — a reproducible
    * stand-in for per-class random sampling (the hash plays the RNG;
    * same data -> same sample on any cluster layout, which is what a
    * training-data pipeline needs for auditable splits).
    *
    * One shuffle on the stratum column; `WindowGroupLimit` pushes the
    * per-partition top-k ahead of the final window at scale.
    */
  def stratifiedSample(df: DataFrame, stratumCol: String, idCol: String,
                       orderHash: Column, perStratum: Int): DataFrame = {
    df.withColumn("__h", orderHash)
      .withColumn("rnk", row_number().over(
        Window.partitionBy(stratumCol).orderBy(col("__h").asc, col(idCol).asc))
        .cast("long"))
      .filter(col("rnk") <= perStratum)
      .drop("__h")
  }

  /** Heaps-law vocabulary-growth profile: stream the corpus in `idCol`
    * order and report, per document, the token count, the count of NEW
    * types (tokens whose global first occurrence is this document), and
    * the inclusive running totals of both — the (cum_tokens, vocab_size)
    * pairs ARE the empirical V(n) curve whose log-log slope is Heaps' β,
    * the standard check that a corpus keeps contributing vocabulary (a
    * flattening curve means the crawl is exhausting its domain).
    *
    * Scale shape: "first occurrence" is one min-aggregate on token —
    * map-side combinable, with `array_distinct` deduplicating per doc
    * BEFORE the shuffle so at most |types per doc| rows travel, not
    * |tokens|; the running totals are [[Packing.runningTotalsMulti]]'s
    * two-pass distributed prefix sum (driver state = #partitions × 2
    * longs, no single-partition window). Documents with zero tokens are
    * excluded (they move neither total).
    *
    * @return (`idCol`, n_tok, new_types, cum_tokens, vocab_size), one
    *         row per non-empty document, in `idCol` order
    */
  def vocabularyGrowth(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs
      .select(col(idCol), TextFeatures.tokens(col(textCol)).as("__toks"))
      .filter(size(col("__toks")) >= 1)
    val perDoc = toks.select(col(idCol), size(col("__toks")).cast("long").as("n_tok"))
    val newTypes = toks
      .select(col(idCol), explode(array_distinct(col("__toks"))).as("__t"))
      .groupBy("__t").agg(min(col(idCol)).as("__first"))
      .groupBy("__first").agg(count(lit(1)).as("new_types"))
    val joined = perDoc
      .join(newTypes, perDoc(idCol) === newTypes("__first"), "left")
      .select(col(idCol), col("n_tok"),
        coalesce(col("new_types"), lit(0L)).as("new_types"))
    Packing.runningTotalsMulti(joined, idCol, Seq("n_tok", "new_types"))
      .select(col("__id").as(idCol), col("n_tok"), col("new_types"),
        col("n_tok_cum").as("cum_tokens"), col("new_types_cum").as("vocab_size"))
  }

  /** X69: Zipf rank-frequency profile — the top-`topK` corpus terms
    * with their deterministic rank under (count DESC, token ASC). The
    * rank-frequency curve is the one-glance tokenizer/crawl health
    * check (a Zipf slope far from −1 means boilerplate or template
    * flooding).
    *
    * Scale shape: one map-side-combinable token count (vocab-bounded
    * output), then a global sort+limit — Spark compiles that to
    * TakeOrderedAndProject (per-partition top-K, K-row driver merge),
    * NEVER a full sort. The rank window runs over the K collected
    * rows only.
    *
    * @return (tok, cnt, rnk), rnk 1-based
    */
  def zipfProfile(docs: DataFrame, textCol: String, topK: Int): DataFrame = {
    require(topK >= 1, "zipfProfile needs topK >= 1")
    docs
      .select(explode(TextFeatures.tokens(col(textCol))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok").asc)
      .limit(topK)
      .withColumn("rnk", row_number()
        .over(Window.orderBy(col("cnt").desc, col("tok").asc)).cast("long"))
  }

  /** X74: reciprocal-rank fusion (Cormack et al. SIGIR'09) — the
    * standard hybrid-retrieval merge of a lexical ranking ([[bm25Rank]])
    * and a dense ranking (cosine kNN), or any number of (id, rnk)
    * lists. Contribution of rank r is the floor-quantized integer
    * 1e6 div (k + r), so the fused score is exact under any merge
    * order; items missing from a list simply contribute nothing
    * (union semantics, the paper's convention).
    *
    * Shape: inputs are already top-K lists (≤ K rows each), so every
    * stage — union, sum, sort+limit, final rank window — runs on
    * O(lists·K) rows. The heavy lifting happened inside the rankers.
    *
    * @param rankings (`idCol`, rnk) frames, rnk 1-based
    * @return (`idCol`, rrf_q, n_lists, rnk)
    */
  def rrfFuse(rankings: Seq[DataFrame], idCol: String,
              kRrf: Int = 60, topK: Int = 100): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    val contribs = rankings
      .map(_.select(col(idCol), expr(s"1000000 DIV (${kRrf}L + rnk)").as("__c")))
      .reduce(_ unionByName _)
    contribs
      .groupBy(col(idCol))
      .agg(sum(col("__c")).as("rrf_q"), count(lit(1)).as("n_lists"))
      .orderBy(col("rrf_q").desc, col(idCol).asc).limit(topK)
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("rrf_q").desc, col(idCol).asc)).cast("long"))
  }

  /** X167: rank-biased overlap (Webber, Moffat & Zobel, TOIS 2010),
    * truncated at `depth` — the top-weighted similarity of two
    * rankings, the comparison metric [[rrfFuse]]'s fusion implies but
    * never measures: did the BM25 change / new embedding actually move
    * the TOP of the list, where users look, or only the tail Kendall
    * counts equally?
    *
    *   RBO@D = (1−p) · Σ_{d=1..D} p^(d−1) · |A_{1..d} ∩ B_{1..d}| / d
    *
    * All arithmetic in truncating ppm: the geometric weights are
    * left-to-right integer power folds (the X139 spelling, replayed by
    * the oracle), each depth term floors once, the final (1−p) scale
    * floors once — bit-identical in any engine, no float pow.
    *
    * Shape: one equi-join of the two (bounded, top-k) ranking frames;
    * an item enters the overlap at depth max(rankA, rankB), so the
    * whole curve is one ≤ depth-row histogram join against the
    * `depth`-row weight table — never a per-depth pass.
    *
    * @return one row (depth, p_ppm, overlap_at_depth,
    *         agree_at_depth_ppm, rbo_ppm)
    */
  def rboPpm(a: DataFrame, b: DataFrame, idCol: String, depth: Int,
             pPpm: Long): DataFrame = {
    require(depth >= 1, s"non-positive depth: $depth")
    require(pPpm > 0 && pPpm < 1000000L, s"p_ppm out of (0, 1e6): $pPpm")
    val M = 1000000L
    def powPpm(e: Int): Long = {
      var acc = M; var i = 0
      while (i < e) { acc = acc * pPpm / M; i += 1 }
      acc
    }
    val spark = a.sparkSession
    import spark.implicits._
    val wDf = (1 to depth).map(d => (d.toLong, powPpm(d - 1))).toDF("d", "w")
    val hist = a.select(col(idCol).as("__id"), col("rnk").as("__ra"))
      .join(b.select(col(idCol).as("__id"), col("rnk").as("__rb")), Seq("__id"))
      .select(greatest(col("__ra"), col("__rb")).as("__m"))
      .filter(col("__m") <= depth)
      .groupBy(col("__m")).agg(count(lit(1)).as("__c"))
    wDf.join(hist, col("__m") <= col("d"), "left")
      .groupBy(col("d"), col("w"))
      .agg(coalesce(sum(col("__c")), lit(0L)).as("ov"))
      .select(col("d"), col("w"), col("ov"),
        expr("(ov * 1000000) div d").as("agree"))
      .agg(max(when(col("d") === depth, col("ov"))).as("overlap_at_depth"),
        max(when(col("d") === depth, col("agree"))).as("agree_at_depth_ppm"),
        sum(expr("(w * agree) div 1000000")).as("__s"))
      .select(lit(depth.toLong).as("depth"), lit(pPpm).as("p_ppm"),
        col("overlap_at_depth"), col("agree_at_depth_ppm"),
        expr(s"(__s * (1000000 - $pPpm)) div 1000000").as("rbo_ppm"))
  }

  /** X70: n-gram novelty — per document, the ppm fraction of its
    * DISTINCT word n-grams that occur in no other document. The
    * corpus-level complement of [[repetitionStats]]' within-doc view:
    * low novelty = boilerplate/template mass even when each doc is
    * internally non-repetitive; the metric RefinedWeb-style pipelines
    * gate on before paying for near-dedup.
    *
    * Scale shape: one explode to (doc, gramHash) distinct pairs, a
    * gram-keyed df count (text never shuffles — hashes only), and a
    * doc-keyed count-up; all three aggregates map-side combinable.
    *
    * @return (`idCol`, n_grams, n_unique, novelty_ppm) — docs with
    *         fewer than n tokens are absent (no grams to score)
    */
  def ngramNovelty(docs: DataFrame, idCol: String, textCol: String,
                   n: Int = 3): DataFrame = {
    require(n >= 1, "ngramNovelty needs n >= 1")
    val grams = docs
      .select(col(idCol), explode(array_distinct(TextFeatures.shingleHashes(
        TextFeatures.shingles(TextFeatures.tokens(col(textCol)), n)))).as("__g"))
      .localCheckpoint(eager = false) // forked: gram-df aggregate + scoring join
    val gramDf = grams.groupBy(col("__g")).agg(count(lit(1)).as("__df"))
    grams.join(gramDf, "__g")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__df") === 1L, 1L).otherwise(0L)).as("n_unique"))
      .withColumn("novelty_ppm", expr("n_unique * 1000000 DIV n_grams"))
  }

  /** X107: mean token-rank quality score — each document scored by the
    * average global frequency rank of its tokens (rank 1 = the corpus'
    * most frequent token, by count DESC then token ASC). A cheap,
    * training-free fluency proxy in the Zipf family: natural prose
    * leans on frequent tokens (low mean rank); keyword stuffing,
    * boilerplate tails, and gibberish pull the mean toward the rare
    * tail. Complements X66's surprisal score — rank arithmetic is
    * integer-exact with no probability quantization at all.
    *
    * The global rank is a distributed prefix COUNT over the
    * (−count, token) struct order ([[graft.ops.Packing]]'s two-pass
    * cumsum — range partition, per-partition window, broadcast
    * offsets), NOT a global single-partition window: the rank table is
    * vocabulary-sized and at corpus scale a bare
    * `row_number().over(Window.orderBy(...))` would funnel the whole
    * vocabulary through one task. Scoring is one equi-join of the
    * token occurrences against that table, then a per-doc fold.
    *
    * @return (doc_id, n_tokens, sum_rank, mean_rank) with
    *         mean_rank = sum_rank DIV n_tokens — docs with no tokens
    *         are absent
    */
  def tokenRankScore(docs: DataFrame, idCol: String,
                     textCol: String): DataFrame = {
    val tok = docs
      .select(col(idCol).as("doc_id"),
        explode(TextFeatures.tokens(col(textCol))).as("t"))
      .localCheckpoint(eager = false) // forked: vocab counts + scoring join
    val vocab = tok.groupBy(col("t")).agg(count(lit(1)).as("cnt"))
      .select(struct((-col("cnt")).as("nc"), col("t").as("t")).as("__sk"),
        lit(1L).as("__one"))
    val rank = Packing.runningTotalsMulti(vocab, "__sk", Seq("__one"))
      .select(col("__id").getField("t").as("t"), col("__one_cum").as("r"))
    tok.join(rank, Seq("t"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("r")).as("sum_rank"))
      .withColumn("mean_rank", expr("sum_rank DIV n_tokens"))
  }

  /** X144: signed-φ² domain-marker tokens — χ² feature selection
    * (Yang & Pedersen ICML'97) for the 2×2 token-occurrence ×
    * target-membership table, reported as the BOUNDED effect size
    * φ² = χ²/N ∈ [0, 1] with the association's direction as its sign
    * (positive = target marker, negative = reference marker). The
    * companion to X123: DSIR scores documents with all features;
    * this names the FEATURES that separate the domains — the
    * interpretable shortlist a curation reviewer actually reads, and
    * the input to a sparse classifier.
    *
    * Integer-exact: φ²_ppm = sign(ad−bc) · 10⁶·(ad−bc)² div
    * ((a+b)(c+d)(a+c)(b+d)) over occurrence counts, DECIMAL(38,0)
    * products — exact while total occurrences N < 5·10⁷ (enforced
    * loudly; slice larger corpora — the ARI bound discipline).
    *
    * Surface tokens travel (the PMI convention — output must be
    * human-readable): one vocab-keyed aggregate off one corpus pass,
    * `minCount` prunes the noise tail BEFORE the arithmetic, top-K by
    * (|φ²| DESC, token ASC) lands in TakeOrderedAndProject.
    *
    * @return topK rows (token, n_target, n_ref, phi2_signed_ppm)
    */
  def domainMarkersPpm(docs: DataFrame, textCol: String, targetCol: String,
                       minCount: Long = 5, topK: Int = 50): DataFrame = {
    val counts = docs
      .select(col(targetCol).cast("boolean").as("__t"),
        explode(TextFeatures.tokens(col(textCol))).as("token"))
      .groupBy(col("token"))
      .agg(sum(when(col("__t"), 1L).otherwise(0L)).as("n_target"),
        sum(when(col("__t"), 0L).otherwise(1L)).as("n_ref"))
      .localCheckpoint(eager = false) // forked: totals + scoring
    val tot = counts.agg(sum(col("n_target")).as("tt"), sum(col("n_ref")).as("tr"))
    counts.filter(col("n_target") + col("n_ref") >= minCount)
      .crossJoin(broadcast(tot))
      .withColumn("__num", col("n_target") * (col("tr") - col("n_ref"))
        - col("n_ref") * (col("tt") - col("n_target")))
      .withColumn("__den", expr(
        "cast(n_target + n_ref as decimal(38,0)) * " +
          "((tt - n_target) + (tr - n_ref)) * tt * tr"))
      .select(col("token"), col("n_target"), col("n_ref"),
        when(col("tt") + col("tr") > 50000000L, raise_error(lit(
          "phi2 magnitude bound: compute per slice below 5e7 occurrences")))
          .when(col("__den") === 0, lit(0L))
          .when(col("__num") >= 0, expr(
            "(cast(__num as decimal(38,0)) * __num * 1000000) div __den")
            .cast("long"))
          .otherwise(-expr(
            "(cast(-__num as decimal(38,0)) * (-__num) * 1000000) div __den")
            .cast("long"))
          .as("phi2_signed_ppm"))
      .orderBy(abs(col("phi2_signed_ppm")).desc, col("token").asc)
      .limit(topK)
  }

  /** X134: tail-vocabulary (OOV-proxy) rate per source — the "which
    * sources are full of junk tokens" curation signal: the share of a
    * source's token OCCURRENCES that fall outside the corpus's top-K
    * head vocabulary. Crawl dumps dominated by boilerplate hashes,
    * base64, or tokenizer-hostile scripts light up here long before a
    * per-doc quality gate sees them; it is also the corpus-side proxy
    * for tokenizer OOV cost (X113 measures the trained-BPE side).
    *
    * The head vocabulary is the corpus's own top `vocabK` tokens under
    * the TOTAL (−count, token) order, ranked by [[Packing]]'s two-pass
    * distributed prefix count ([[tokenRankScore]]'s machinery — never
    * a single-partition vocabulary window). Scoring is one equi-join
    * of the (source, token) occurrence aggregate against the ≤ vocabK
    * head set (join left to AQE) and a |sources|-key fold.
    *
    * @return (source, n_tokens, n_tail, tail_ppm) with
    *         tail_ppm = 10⁶·n_tail DIV n_tokens
    */
  def tailVocabRatePpm(docs: DataFrame, sourceCol: String, textCol: String,
                       vocabK: Long): DataFrame = {
    require(vocabK >= 1, s"non-positive vocabulary size: $vocabK")
    val tok = docs
      .select(col(sourceCol).as("source"),
        explode(TextFeatures.tokens(col(textCol))).as("t"))
      .groupBy(col("source"), col("t")).agg(count(lit(1)).as("m"))
      .localCheckpoint(eager = false) // forked: vocab counts + scoring join
    val vocab = tok.groupBy(col("t")).agg(sum(col("m")).as("cnt"))
      .select(struct((-col("cnt")).as("nc"), col("t").as("t")).as("__sk"),
        lit(1L).as("__one"))
    val head = Packing.runningTotalsMulti(vocab, "__sk", Seq("__one"))
      .filter(col("__one_cum") <= vocabK)
      .select(col("__id").getField("t").as("t"), lit(true).as("__head"))
    tok.join(head, Seq("t"), "left")
      .groupBy(col("source"))
      .agg(sum(col("m")).as("n_tokens"),
        sum(when(col("__head").isNull, col("m")).otherwise(lit(0L))).as("n_tail"))
      .withColumn("tail_ppm", expr("n_tail * 1000000 DIV n_tokens"))
  }

  /** X123: DSIR-style domain-relevance scoring (Xie et al. NeurIPS'23,
    * "Data Selection for Language Models via Importance Resampling") —
    * rank a web-scale corpus by how target-domain-like each document
    * is, using hashed-token rate statistics instead of a trained
    * classifier. DSIR's per-feature log-likelihood ratio
    * log(p_target/p_ref) is replaced by the exact integer rate
    * DIFFERENCE rate_t − rate_r (both in ppm of their corpus's token
    * occurrences) so the score is bit-reproducible across engines:
    * positive means the token is over-represented in the target slice,
    * and a document's score is the occurrence-weighted mean — the same
    * linear-in-features shape as DSIR's importance weight, with the
    * log swapped for a rational that needs no libm.
    *
    * The reference model is the FULL corpus (target ⊂ reference), so
    * every observed feature has rate_r > 0 and there is no OOV
    * smoothing branch to keep deterministic.
    *
    * Plan shape (the q37/q51 discipline): the hashed-token occurrence
    * aggregate is materialized ONCE and forks into the rate model and
    * the scoring join; the rate table is vocabulary-bounded but
    * unbounded in general — join strategy left to AQE, never
    * force-broadcast. The two totals ride in as a broadcast single-row
    * cross join. Map-side combine applies to every aggregate, and the
    * negative-dividend mean uses the sign-split truncating DIV
    * (Spark DIV truncates toward zero; the oracle mirrors the split so
    * DuckDB's floor // cannot diverge on negatives).
    *
    * @param targetCol boolean column marking the target-domain slice
    * @return (doc_id, n_tokens, relevance_ppm) — docs with no tokens
    *         are absent; fails loudly on an empty target slice
    */
  def domainRelevancePpm(docs: DataFrame, idCol: String, textCol: String,
                         targetCol: String): DataFrame = {
    val occ = docs
      .select(col(idCol).as("doc_id"), col(targetCol).cast("boolean").as("__t"),
        explode(TextFeatures.tokens(col(textCol))).as("__tok"))
      .select(col("doc_id"), col("__t"), TextFeatures.charHash(col("__tok")).as("__h"))
      .groupBy(col("doc_id"), col("__t"), col("__h"))
      .agg(count(lit(1)).as("m"))
      .localCheckpoint(eager = false) // forked: rate model + scoring join
    val rates = occ.groupBy(col("__h"))
      .agg(sum(when(col("__t"), col("m")).otherwise(lit(0L))).as("ct"),
        sum(col("m")).as("cr"))
      .localCheckpoint(eager = false) // forked: totals + per-feature weights
    val tot = rates.agg(sum(col("ct")).as("tt"), sum(col("cr")).as("tr"))
    val weights = rates.crossJoin(broadcast(tot))
      .select(col("__h"),
        (when(col("tt") > 0, expr("ct * 1000000 DIV tt"))
          .otherwise(raise_error(lit(
            "domainRelevancePpm: empty target slice — no tokens marked target")))
          - expr("cr * 1000000 DIV tr")).as("w"))
    occ.join(weights, Seq("__h"))
      .groupBy(col("doc_id"))
      .agg(sum(col("m")).as("n_tokens"), sum(col("m") * col("w")).as("__sw"))
      .select(col("doc_id"), col("n_tokens"),
        when(col("__sw") >= 0, expr("__sw DIV n_tokens"))
          .otherwise(-expr("(-__sw) DIV n_tokens")).as("relevance_ppm"))
  }

  /** X151: token burstiness — the Fano factor (variance-to-mean ratio)
    * of each token's per-document count over the WHOLE corpus,
    * including its zeros (Church & Gale 1995): a token whose
    * occurrences pile into few documents (template boilerplate, spam
    * stamps, scraped navigation) reads far above the Poisson baseline
    * of 10⁶ ppm, while content words sit near it. The spam-token
    * detector that frequency alone (X113 tail vocab, X92 zipf) cannot
    * see — a burst token can be frequent AND concentrated.
    *
    * Zeros never materialize: with N docs, total occurrences t and
    * per-doc counts c,
    *
    *   VMR = Var/mean = (N·Σc² − t²) div (N·t)   (absent docs add 0)
    *
    * so one (token, doc) count, one token-key moment fold, and a
    * one-row doc count joined broadcast — all map-side combinable.
    * Products run in DECIMAL(38,0): exact while t < 10¹⁶ occurrences
    * of one token. `minTotal` prunes the long hapax tail before
    * arithmetic; top-`k` by (vmr DESC, token ASC) via TakeOrdered.
    *
    * @return (token, n_docs_with, n_occ, vmr_ppm), top `k`
    */
  def burstinessPpm(docs: DataFrame, idCol: String, textCol: String,
                    minTotal: Long, k: Int): DataFrame = {
    require(k >= 1, s"non-positive top-k: $k")
    val perDoc = docs
      .select(col(idCol).as("__id"),
        explode(TextFeatures.tokens(col(textCol))).as("t"))
      .groupBy(col("t"), col("__id")).agg(count(lit(1)).as("c"))
    val nDocs = docs.agg(count(lit(1)).as("__n"))
    perDoc.groupBy(col("t"))
      .agg(count(lit(1)).as("n_docs_with"), sum(col("c")).as("n_occ"),
        sum(col("c") * col("c")).as("__sc2"))
      .filter(col("n_occ") >= minTotal)
      .crossJoin(broadcast(nDocs))
      .select(col("t").as("token"), col("n_docs_with"), col("n_occ"),
        expr("""((cast(__n as decimal(38,0)) * __sc2
               |   - cast(n_occ as decimal(38,0)) * n_occ) * 1000000)
               | div (cast(__n as decimal(38,0)) * n_occ)""".stripMargin)
          .cast("long").as("vmr_ppm"))
      .orderBy(col("vmr_ppm").desc, col("token").asc)
      .limit(k)
  }

  /** X159: repeat-run detector — the longest run of one token repeated
    * CONSECUTIVELY per document: the degenerate-text signal
    * ("the the the …", "ha ha ha …", markup stutter, generation loops)
    * that [[repetitionStats]]' gram-frequency ratios dilute away in a
    * long document. A 50-token loop inside a 10k-token doc barely
    * moves top_bigram_frac; it IS max_run = 50 here.
    *
    * Shape: tokens posexplode into (doc, pos, token); ONE shuffle on
    * the doc key feeds the lag window (a doc's tokens are one bounded
    * partition task — the X14/X84 sessionization shape); run ids are a
    * change-flag cumulative sum, runs collapse map-side, and the
    * per-doc argmax is a struct-min (longest run, ties to the
    * lexicographically smaller token) — no second window.
    *
    * @return (doc_id, n_tokens, max_run, run_token)
    */
  def repeatRuns(docs: DataFrame, idCol: String,
                 textCol: String): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy(col("pos"))
    docs
      .select(col(idCol).as("doc_id"),
        posexplode(TextFeatures.tokens(col(textCol))).as(Seq("pos", "tok")))
      .withColumn("__chg",
        when(lag(col("tok"), 1).over(w).isNull ||
          lag(col("tok"), 1).over(w) =!= col("tok"), 1L).otherwise(0L))
      .withColumn("__run", sum(col("__chg")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("__run"), col("tok"))
      .agg(count(lit(1)).as("__len"))
      .groupBy(col("doc_id"))
      .agg(sum(col("__len")).as("n_tokens"),
        min(struct((-col("__len")).as("nl"), col("tok").as("t"))).as("__m"))
      .select(col("doc_id"), col("n_tokens"),
        (-col("__m.nl")).as("max_run"), col("__m.t").as("run_token"))
  }
}
