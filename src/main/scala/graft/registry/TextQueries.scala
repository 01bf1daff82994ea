package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{TextAnalysis, TextFeatures}
import graft.ops.{BpeTrainer, Packing, TermStats}

import Memos._
import Shared._

/** q255's corruption literals, interpolated into BOTH the Spark query
  * and the DuckDB oracle so the injected bytes are identical: "café ’s"
  * whose UTF-8 got read as latin-1 (the canonical mojibake), and a
  * decoder-gave-up tail (U+FFFD + the C1 NEL control). */
private[graft] object EncodingQaFixture {
  val Mojibake: String = "caf\u00C3\u00A9 \u00E2\u0080\u0099s"
  val Corrupt: String = "bad\uFFFDchar \u0085next"
}

/** Text analysis and tokenization: language ID, quality heuristics,
  * term statistics (TF-IDF, BM25, PMI, n-gram LMs), BPE training and
  * segmentation, chunking and packing, PII and encoding scans. */
private[registry] object TextQueries {

  val specs: Seq[QuerySpec] = Seq(
    // Stopword-hit language ID with deterministic alphabetical tiebreak.
    QuerySpec("q28_lang_id", ((s, d) =>
      docsFanned(s, d)
        .select(col("doc_id"), col("lang"),
          TextAnalysis.langId(TextFeatures.tokens(col("text"))).as("pred_lang"))
        .orderBy(col("doc_id"))),
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
         |FROM h ORDER BY doc_id""".stripMargin),

    // Quality heuristics (length / stopword / alphabetic ratios).
    QuerySpec("q29_quality_score", ((s, d) => {
      val toks = TextFeatures.tokens(col("text"))
      val cols = TextAnalysis.qualityColumns(col("text"), toks)
        .map { case (n, c) => c.as(n) }
      docsFanned(s, d).select((col("doc_id") +: cols): _*).orderBy(col("doc_id"))
    }),
      {
        val allStop = TextFeatures.stopwords.values.flatten.toSeq.distinct
          .map(w => s"'$w'").mkString("[", ",", "]")
        s"""WITH tok AS (SELECT doc_id, text, list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM documents)
           |SELECT doc_id,
           |  CAST(len(toks) AS BIGINT) AS n_tokens,
           |  list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(toks, t -> CAST(length(t) AS DOUBLE))), (a, x) -> a + x) / CAST(len(toks) AS DOUBLE) AS mean_token_len,
           |  CAST(len(list_filter(toks, t -> list_contains($allStop, t))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS stopword_ratio,
           |  CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) AS alpha_ratio
           |FROM tok ORDER BY doc_id""".stripMargin
      }),

    // Token counting: whitespace + BPE-ish regex segmentation.
    QuerySpec("q30_token_stats", ((s, d) => {
      val toks = TextFeatures.tokens(col("text"))
      val cols = TextAnalysis.tokenCounts(col("text"), toks)
        .map { case (n, c) => c.as(n) }
      docsFanned(s, d).select((col("doc_id") +: cols): _*).orderBy(col("doc_id"))
    }),
      s"""WITH tok AS (SELECT doc_id, text, list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM documents)
         |SELECT doc_id,
         |  CAST(len(toks) AS BIGINT) AS ws_tokens,
         |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS bpeish_tokens,
         |  CAST(length(text) AS BIGINT) AS n_chars
         |FROM tok ORDER BY doc_id""".stripMargin),

    // Document fingerprints: full rolling hash + winnowing min over
    // 8-token windows.
    QuerySpec("q31_fingerprint", ((s, d) => {
      val toks = TextFeatures.tokens(col("text"))
      val cols = TextAnalysis.fingerprintColumns(col("text"), toks, 8)
        .map { case (n, c) => c.as(n) }
      docsFanned(s, d).select((col("doc_id") +: cols): _*).orderBy(col("doc_id"))
    }),
      s"""WITH tok AS (SELECT doc_id, text, list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM documents)
         |SELECT doc_id, ${dh("text")} AS fp_full,
         |  CASE WHEN len(toks) >= 8 THEN list_min(list_transform(
         |    list_transform(range(1, len(toks)-6), i -> array_to_string(list_slice(toks, i, i+7), ' ')),
         |    s -> ${dh("s")}))
         |  ELSE ${dh("text")} END AS fp_winnow
         |FROM tok ORDER BY doc_id""".stripMargin),

    // BPE merge-table training (3 rounds): the tokenizer-training step
    // — corpus collapses once to its word-frequency vocab, each round
    // is one pair-count aggregate + a TakeOrdered argmax, merges apply
    // as the greedy-leftmost fold. Driver state = the merge table.
    QuerySpec("q77_bpe_merges", ((s, d) =>
      bpeMergeTable(s, d)
        .select(col("rnk"), col("left").as("merge_left"),
          col("right").as("merge_right"), col("freq"))
        .orderBy(col("rnk"))),
      // Mirrors BpeTrainer.trainMerges (3 rounds): word-frequency vocab,
      // per-round pair counts with (f DESC, l, r) argmax, and the
      // greedy-leftmost merge replayed as a recursive per-word fold.
      {
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
      memos = Set("bpe_merges")),

    // BPE segmentation: train 3 merges, then APPLY them to the corpus
    // vocabulary in training order — the tokenizer's full
    // train-then-segment cycle, all vocab-bounded after the one corpus
    // collapse.
    QuerySpec("q78_bpe_segment", ((s, d) =>
      bpeSegmented(s, d).orderBy(col("word"))),
      // Mirrors BpeTrainer.trainMerges + applyMerges: q77's chain plus a
      // third fold, emitting each vocab word's final segmentation.
      s"""WITH RECURSIVE
         |$bpeChainCtes
         |SELECT w0.w AS word, CAST(w3.n AS BIGINT) AS n, CAST(len(w3.syms) AS BIGINT) AS n_syms,
         |  array_to_string(w3.syms, ' ') AS segmented
         |FROM w3 JOIN w0 USING (wid) ORDER BY word""".stripMargin,
      memos = Set("bpe_merges", "bpe_segmented")),

    // Rank-biased overlap: how much did dropping one probe term move
    // the TOP of the BM25 ranking — p=0.9, depth 50.
    QuerySpec("q194_rbo", ((s, d) => {
      val docs = docsFanned(s, d)
      TermStats.rboPpm(
        TermStats.bm25Rank(docs, "doc_id", "text",
          Seq("join", "vector", "stream")),
        TermStats.bm25Rank(docs, "doc_id", "text", Seq("join", "vector")),
        "doc_id", depth = 50, pPpm = 900000L)
    }),
      // RBO: two BM25 chains share base/stats; overlap enters at
      // max(rank) depth; weights are the X139 power folds.
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
         |FROM t""".stripMargin),

    // Tokenizer fit: pieces-per-word histogram under the 3-merge BPE
    // table — the fertility / domain-mismatch readout. The table is the
    // SAME trainMerges(docsFanned, 3) frame q77/q78/q139 read, so it
    // comes from the shared memo instead of retraining (guide §2.4:
    // the training pass — vocab + 3 merge rounds — ran once already).
    QuerySpec("q191_tokenizer_fit", ((s, d) => {
      val table = bpeMergeTable(s, d)
        .orderBy(col("rnk")).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      BpeTrainer.fitHistogram(docsFanned(s, d), "text", table)
        .orderBy(col("n_pieces"))
    }),
      // Tokenizer fit: the q78 BPE chain rolled to a pieces-per-word
      // histogram, occurrence-weighted.
      s"""WITH RECURSIVE
         |$bpeChainCtes
         |SELECT CAST(len(syms) AS BIGINT) AS n_pieces,
         |  CAST(count(*) AS BIGINT) AS n_types,
         |  CAST(SUM(n) AS BIGINT) AS n_occurrences
         |FROM w3 GROUP BY 1 ORDER BY n_pieces""".stripMargin,
      memos = Set("bpe_merges")),

    // Repeat-run detector over a loop-salted corpus: longest
    // consecutive one-token run per doc — the generation-loop signal.
    QuerySpec("q186_repeat_runs", ((s, d) => {
      val salted = docsFanned(s, d).withColumn("text", concat(col("text"),
        when(col("doc_id") % 3 === 0,
          expr("repeat(' loop', cast(doc_id % 6 + 2 as int))"))
          .otherwise(lit(""))))
      TermStats.repeatRuns(salted, "doc_id", "text")
        .orderBy(col("doc_id"))
    }),
      // Repeat runs: loop-salted corpus, lag change flags, run-id
      // cumsum, (len DESC, token ASC) argmax per doc.
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
        |FROM rk WHERE rn = 1 ORDER BY doc_id""".stripMargin),

    // Chunking-waste planner: price four candidate max_lens from the
    // length histogram before paying for any chunking pass.
    QuerySpec("q176_chunk_waste", ((s, d) =>
      Packing.chunkWastePlan(Tables.documents(s, d), "text",
          Seq(16, 32, 64, 128))
        .orderBy(col("max_len"))),
      // Chunk-waste planner: length histogram × candidate lengths,
      // ceiling arithmetic, exact ppm ratios.
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
        |FROM a ORDER BY max_len""".stripMargin),

    // Token burstiness: Fano factor of per-doc counts vs the Poisson
    // 10⁶ baseline — the concentrated-token (template/spam) detector.
    QuerySpec("q178_burstiness", ((s, d) =>
      TermStats.burstinessPpm(docsFanned(s, d), "doc_id", "text",
          minTotal = 30L, k = 50)
        .orderBy(col("vmr_ppm").desc, col("token").asc)),
      // Burstiness: (token, doc) counts, zero-inclusive VMR via the
      // closed form (N·Σc² − t²)/(N·t), HUGEINT, top-50.
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
        |ORDER BY vmr_ppm DESC, token ASC LIMIT 50""".stripMargin),

    // Signed-φ² domain markers: which tokens separate English from the
    // rest — the readable shortlist behind q150's DSIR scores.
    QuerySpec("q171_domain_markers", ((s, d) =>
      TermStats.domainMarkersPpm(
          docsFanned(s, d).withColumn("__is_en", col("lang") === "en"),
          "text", "__is_en", minCount = 20, topK = 40)
        .orderBy(abs(col("phi2_signed_ppm")).desc, col("token").asc)),
      // Domain markers: occurrence 2x2 per token, signed phi2 ppm in
      // HUGEINT, (|phi2| DESC, token ASC) top-40.
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
        |ORDER BY abs(phi2_signed_ppm) DESC, token ASC LIMIT 40""".stripMargin),

    // Tail-vocab rate per source: share of token occurrences outside
    // the corpus top-200 head — the junk-token source detector.
    QuerySpec("q161_tail_vocab", ((s, d) =>
      TermStats.tailVocabRatePpm(docsFanned(s, d), "source", "text", 200L)
        .orderBy(col("source"))),
      // Tail vocab: ROW_NUMBER over (count DESC, token ASC) defines the
      // top-200 head; tail occurrences counted per source.
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
        |GROUP BY 1 ORDER BY st.source""".stripMargin),

    // DSIR-style domain relevance: hashed-token rate difference
    // (target = English slice) scored per doc — the importance-weight
    // ranking that picks domain-like web text before training.
    QuerySpec("q150_domain_relevance", ((s, d) =>
      TermStats.domainRelevancePpm(
          Tables.documents(s, d).withColumn("__is_en", col("lang") === "en"),
          "doc_id", "text", "__is_en")
        .orderBy(col("doc_id"))),
      // DSIR relevance: hashed-token occurrence counts fork into the
      // rate model (target rate − reference rate, ppm) and the per-doc
      // occurrence-weighted mean; sign-split // mirrors Spark's DIV.
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
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // Tokenizer fertility off the q78 BPE chain: corpus-weighted mean
    // pieces per token occurrence in exact ppm — the tokenizer-eval
    // number (high fertility = the merge table fits the corpus badly).
    QuerySpec("q139_bpe_fertility", ((s, d) =>
      // q78's segmented vocabulary (shared memoized chain), aggregated.
      bpeSegmented(s, d)
        .agg(count(lit(1)).as("n_words"), sum(col("n")).as("n_tokens"),
          sum(col("n") * col("n_syms")).as("n_pieces"))
        .select(col("n_words"), col("n_tokens"), col("n_pieces"),
          expr("n_pieces * 1000000 DIV n_tokens").as("fertility_ppm"))),
      // Fertility: the q78 chain rolled up corpus-weighted — pieces per
      // token occurrence in exact ppm.
      s"""WITH RECURSIVE
         |$bpeChainCtes
         |SELECT CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(SUM(n) AS BIGINT) AS n_tokens,
         |  CAST(SUM(n * len(syms)) AS BIGINT) AS n_pieces,
         |  CAST(SUM(n * len(syms)) * 1000000 // SUM(n) AS BIGINT) AS fertility_ppm
         |FROM w3""".stripMargin,
      memos = Set("bpe_merges", "bpe_segmented")),

    // PMI collocations: top-50 most associated adjacent token pairs by
    // the exact ppm-quantized lift ratio c_ab·U²/(c_a·c_b·N) — log-free
    // (monotone), DECIMAL(38,0)-exact, vocab-bounded aggregates only.
    QuerySpec("q81_pmi_collocations", ((s, d) =>
      TermStats.pmiCollocations(docsFanned(s, d), "doc_id", "text",
        minCount = 5, topK = 50)),
      // Mirrors TermStats.pmiCollocations: HUGEINT ≙ DECIMAL(38,0) exact
      // lift ratio, same truncating division, same (lift DESC, bigram)
      // total order.
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
        |ORDER BY lift_ppm DESC, bigram ASC LIMIT 50""".stripMargin),

    // Context-window chunking (packing's dual): 64-token windows at
    // stride 48 — every token covered, 16 tokens of overlap for
    // retrieval context. Pure explode, zero shuffle before the sort.
    QuerySpec("q82_doc_chunking", ((s, d) =>
      Packing.chunkDocuments(Tables.documents(s, d), "doc_id", "text",
          chunkTokens = 64, stride = 48)
        .orderBy(col("doc_id"), col("chunk_id"))),
      // Mirrors Packing.chunkDocuments (chunk 64, stride 48): window
      // starts at 1 + 48k for k in [0, (n-1)//48], final chunk short.
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
         |FROM c ORDER BY doc_id, chunk_id""".stripMargin),

    // Heaps-law vocabulary growth: per-doc new-type counts (one
    // map-side-combinable min on token) + the multi-column two-pass
    // prefix sum — the (cum_tokens, vocab_size) curve in doc order.
    QuerySpec("q83_vocab_growth", ((s, d) =>
      TermStats.vocabularyGrowth(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("doc_id"))),
      // Mirrors TermStats.vocabularyGrowth: first occurrence = min doc_id
      // per token; running totals of tokens and new types in doc order.
      """WITH tok AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM documents),
        |d AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tok FROM tok WHERE len(toks) >= 1),
        |f AS (SELECT t, min(doc_id) AS first_doc
        |  FROM (SELECT doc_id, unnest(toks) AS t FROM tok WHERE len(toks) >= 1) GROUP BY t),
        |nt AS (SELECT first_doc AS doc_id, CAST(count(*) AS BIGINT) AS new_types FROM f GROUP BY 1)
        |SELECT d.doc_id, d.n_tok, COALESCE(nt.new_types, 0) AS new_types,
        |  CAST(SUM(d.n_tok) OVER (ORDER BY d.doc_id) AS BIGINT) AS cum_tokens,
        |  CAST(SUM(COALESCE(nt.new_types, 0)) OVER (ORDER BY d.doc_id) AS BIGINT) AS vocab_size
        |FROM d LEFT JOIN nt USING (doc_id) ORDER BY doc_id""".stripMargin),

    // TF-IDF top-terms per document: (doc, term) counts joined with the
    // vocabulary-sized document frequency (broadcast); rational smooth
    // idf (N+1)/(df+1) — a documented variant chosen for exact
    // cross-engine reproducibility (single IEEE division, no libm);
    // weights rare terms harder than log-idf (see TermStats scaladoc).
    QuerySpec("q37_tfidf_topterms", ((s, d) =>
      TermStats.tfidfTopTerms(docsFanned(s, d), "doc_id", "text", 3)
        .orderBy(col("doc_id"), col("rnk"))),
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
        |ORDER BY doc_id, rnk""".stripMargin),

    // Deterministic stratified sampling: first 50 docs per language
    // under (text-hash, id) order — the auditable-split primitive of a
    // training-data pipeline (hash plays the RNG; layout-independent).
    QuerySpec("q38_stratified_sample", ((s, d) =>
      TermStats.stratifiedSample(docsFanned(s, d), "lang", "doc_id",
          TextFeatures.charHash(col("text")), 50)
        .select(col("lang"), col("doc_id"), col("rnk"))
        .orderBy(col("lang"), col("rnk"))),
      s"""WITH h AS (SELECT lang, doc_id, ${dh("text")} AS hh FROM documents),
         |rk AS (SELECT lang, doc_id,
         |  ROW_NUMBER() OVER (PARTITION BY lang ORDER BY hh ASC, doc_id ASC) AS rnk FROM h)
         |SELECT lang, doc_id, rnk FROM rk WHERE rnk <= 50
         |ORDER BY lang, rnk""".stripMargin),

    // BM25 retrieval scoring against a fixed probe query (log-free
    // Robertson idf; per-term scores floor-quantized before the per-doc
    // sum, so the total is exact under any merge order); global top-100
    // via sort+limit, not a one-partition window.
    QuerySpec("q41_bm25", ((s, d) =>
      TermStats.bm25Rank(docsFanned(s, d), "doc_id", "text",
          Seq("join", "vector", "stream"))
        .orderBy(col("rnk"))),
      // Mirrors TermStats.bm25Rank term-for-term: n = count(*), avgdl one
      // double division, idf (n - df + 0.5)/(df + 0.5), tf part with
      // k1=1.2 b=0.75 in the same association order, floor(score*1e6)
      // per term summed as BIGINT per doc.
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
        |ORDER BY rnk""".stripMargin),

    // PII scrub: regex detect counts + typed-placeholder redaction. The
    // raw synthetic text carries no PII, so the corpus is salted with
    // deterministic emails/phones (mirrored in the oracle CTE).
    QuerySpec("q44_pii_scrub", ((s, d) => {
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
      // Salting CTE mirrors the q44 Spark query verbatim; the regexes are
      // the RE2-compatible subset TextAnalysis pins (identical semantics
      // in Java regex and DuckDB's RE2). Emails redact before phones.
      s"""WITH salted AS (SELECT doc_id, text
         |  || CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now' ELSE '' END
         |  || CASE WHEN doc_id % 4 = 0 THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' today' ELSE '' END AS text
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '${graft.functions.TextAnalysis.EmailRe}')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(text, '${graft.functions.TextAnalysis.PhoneRe}')) AS BIGINT) AS n_phones,
         |  regexp_replace(regexp_replace(text, '${graft.functions.TextAnalysis.EmailRe}', '<EMAIL>', 'g'),
         |    '${graft.functions.TextAnalysis.PhoneRe}', '<PHONE>', 'g') AS redacted
         |FROM salted ORDER BY doc_id""".stripMargin),

    // Gopher-style repetition quality signals: top-bigram share and
    // duplicate-trigram share, ppm-quantized in integer arithmetic.
    QuerySpec("q45_repetition", ((s, d) =>
      TermStats.repetitionStats(docsFanned(s, d), "doc_id", "text")
        .orderBy(col("doc_id"))),
      // Mirrors TermStats.repetitionStats: n-grams ride as polynomial
      // hashes, counts are per-occurrence (not distinct), fractions are
      // floor-quantized ppm in integer arithmetic (x*1e6 // total).
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
         |ORDER BY bi.doc_id""".stripMargin),

    // Inverted index with df-band scale guards: stop-terms (unbounded
    // posting lists) and hapaxes are cut BEFORE collect_list runs.
    QuerySpec("q49_inverted_index", ((s, d) =>
      TermStats.invertedIndex(docsFanned(s, d), "doc_id", "text", 2, 100)
        .orderBy(col("term"))),
      // Mirrors TermStats.invertedIndex: distinct (term, doc) pairs, df
      // band [2, 100], postings as the comma-joined ascending id list.
      """WITH td AS (SELECT DISTINCT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS term
        |  FROM documents),
        |g AS (SELECT term, count(*) AS df,
        |    string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
        |  FROM td GROUP BY term)
        |SELECT term, df, postings FROM g WHERE df BETWEEN 2 AND 100
        |ORDER BY term""".stripMargin),

    // Bigram-LM surprisal quality score (log-free, integer-quantized):
    // the corpus is the model; low mean probability = improbable text.
    QuerySpec("q51_bigram_lm", ((s, d) =>
      TermStats.bigramLmScore(docsFanned(s, d), "doc_id", "text")
        .orderBy(col("doc_id"))),
      // Mirrors TermStats.bigramLmScore: hashed (prefix, bigram)
      // occurrence counts; c1/c2 corpus model; per-occurrence probability
      // floor-quantized to ppm; per-doc mean in integer division.
      s"""WITH tok AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM documents),
         |occ AS (SELECT doc_id, ${dh("toks[i]")} AS h1, ${dh("toks[i] || ' ' || toks[i+1]")} AS h2
         |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM tok WHERE len(toks) >= 2)),
         |mm AS (SELECT doc_id, h1, h2, count(*) AS cnt FROM occ GROUP BY 1, 2, 3),
         |c1 AS (SELECT h1, CAST(SUM(cnt) AS BIGINT) AS c1 FROM mm GROUP BY 1),
         |c2 AS (SELECT h1, h2, CAST(SUM(cnt) AS BIGINT) AS c2 FROM mm GROUP BY 1, 2)
         |SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
         |  CAST(SUM(cnt * (c2 * 1000000 // c1)) // SUM(cnt) AS BIGINT) AS mean_p_q
         |FROM mm JOIN c2 USING (h1, h2) JOIN c1 USING (h1)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // Sequence packing: documents laid end-to-end in doc_id order, cut
    // every 256 tokens — the doc→training-sequence assignment, via the
    // two-pass distributed prefix sum (no single-partition window).
    QuerySpec("q61_sequence_pack", ((s, d) =>
      Packing.packSequences(Tables.documents(s, d), "doc_id",
          size(TextFeatures.tokens(col("text"))).cast("long"), 256L)
        .orderBy(col("seq_id"), col("doc_id"))),
      // Mirrors Packing.packSequences (budget 256): global running token
      // sum in doc_id order gives each doc's [start, end) interval; the
      // doc lands in every sequence floor(start/256)..floor((end-1)/256),
      // contributing the overlap. Integer arithmetic throughout (the
      // HUGEINT window sum is cast back to BIGINT for range()).
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
        |ORDER BY seq_id, doc_id""".stripMargin),

    // Zipf rank-frequency profile: top-100 corpus terms, deterministic
    // (count DESC, token ASC) rank via TakeOrderedAndProject — the
    // crawl-health curve, never a full sort.
    QuerySpec("q92_zipf_profile", ((s, d) =>
      TermStats.zipfProfile(docsFanned(s, d), "text", topK = 100)
        .orderBy(col("rnk"))),
      // Mirrors TermStats.zipfProfile: token counts ranked by
      // (cnt DESC, tok ASC), top 100.
      """WITH t AS (SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok FROM documents),
        |c AS (SELECT tok, count(*) AS cnt FROM t GROUP BY tok),
        |r AS (SELECT tok, cnt,
        |    CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS BIGINT) AS rnk
        |  FROM c)
        |SELECT tok, cnt, rnk FROM r WHERE rnk <= 100 ORDER BY rnk""".stripMargin),

    // Corpus-level n-gram novelty: ppm of each doc's distinct trigrams
    // occurring nowhere else — the template-mass gate; hashes shuffle,
    // text never does.
    QuerySpec("q93_ngram_novelty", ((s, d) =>
      TermStats.ngramNovelty(docsFanned(s, d), "doc_id", "text", n = 3)
        .orderBy(col("doc_id"))),
      // Mirrors TermStats.ngramNovelty (n=3): distinct trigram hashes per
      // doc (q54's shingle spelling), df over docs, unique = df 1.
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
         |FROM g JOIN df USING (h) GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // Language-ID confusion matrix: labeled lang × predicted lang
    // counts — the eval surface over X8's classifier (one projection,
    // one tiny-key aggregate).
    QuerySpec("q95_langid_confusion", ((s, d) =>
      docsFanned(s, d)
        .select(col("lang"),
          TextAnalysis.langId(TextFeatures.tokens(col("text"))).as("pred_lang"))
        .groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("pred_lang"))),
      // Mirrors the q95 confusion matrix: q28's langid CASE, then
      // (lang, pred_lang) counts.
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
         |FROM p GROUP BY lang, pred_lang ORDER BY lang, pred_lang""".stripMargin),

    // Positional phrase query — the inverted index's read path: token
    // (not substring) semantics, postings-bounded equi-join chain.
    QuerySpec("q114_phrase_match", ((s, d) =>
      TermStats.phraseMatch(docsFanned(s, d), "doc_id", "text",
          Seq("sort", "merge"))
        .orderBy(col("doc_id"))),
      // Phrase match: 1-based token positions via a lateral range, the
      // occurrence chain as a positional self-join.
      """WITH tok AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM documents),
        |t AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, toks[CAST(i AS INT)] AS w
        |  FROM tok, unnest(range(1, len(toks)+1)) r(i)),
        |m AS (SELECT a.doc_id, a.pos AS strt FROM t a JOIN t b
        |  ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |  WHERE a.w = 'sort' AND b.w = 'merge')
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matches,
        |  MIN(strt) AS first_pos
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin),

    // Exact all-pairs cosine (Bayardo WWW'07) on the duplicate-heavy
    // corpus — the non-probabilistic complement of q22/q23: clone pairs
    // score 10⁶-exact, truncations land by their real overlap.
    QuerySpec("q116_allpairs_cosine", ((s, d) =>
      TermStats.allPairsCosine(demoCorpus(Tables.documents(s, d)),
          "doc_id", "text", tauMilli = 800, maxDf = 100)
        .orderBy(col("doc_a"), col("doc_b"))),
      // All-pairs cosine over the df-gated (2 ≤ df ≤ 100) vocabulary;
      // the cosine test is cross-multiplied in HUGEINT — no sqrt.
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
         |ORDER BY doc_a, doc_b""".stripMargin),

    // Mean token-rank quality score: each doc scored by the average
    // global frequency rank of its tokens (distributed prefix-count
    // rank, no single-partition vocabulary window).
    QuerySpec("q133_token_rank", ((s, d) =>
      TermStats.tokenRankScore(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("doc_id"))),
      // Token rank: global ROW_NUMBER over (cnt DESC, t ASC), per-doc
      // rank sums, mean = integer div.
      """WITH tok AS (SELECT doc_id,
        |    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS t
        |  FROM documents),
        |v AS (SELECT t, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY 1),
        |r AS (SELECT t,
        |    CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, t ASC) AS BIGINT) AS r FROM v)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(SUM(r.r) AS BIGINT) AS sum_rank,
        |  CAST(SUM(r.r) // count(*) AS BIGINT) AS mean_rank
        |FROM tok JOIN r USING (t) GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // Char-trigram concentration: per-doc Simpson index + distinct
    // ratio in exact ppm — templated text reads high, encoded noise
    // reads low with a wide gram set.
    QuerySpec("q222_chargram_conc", ((s, d) =>
      TermStats.charGramConcentration(
          Tables.documents(s, d), "doc_id", "text", 3)
        .orderBy(col("doc_id"))),
      // Mirrors TermStats.charGramConcentration (n=3): trigrams ride the
      // polynomial hash, Simpson = Σc²·10⁶ // n² exact in HUGEINT.
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
         |FROM a ORDER BY doc_id""".stripMargin),

    // X217 phonetic blocking: every distinct leading word of part
    // names keyed by classic Soundex — bucket sizes and the candidate
    // pair count an entity-resolution pass would enumerate per code.
    QuerySpec("q252_soundex_blocking", ((s, d) =>
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
      // Mirrors TextAnalysis.soundexCode verbatim: the same fixed
      // pipeline of upper/strip/HW-drop/translate/7-collapse/lead-drop/
      // 0-strip/rpad — RE2-safe (no backreferences) on both engines.
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
        |FROM p5 GROUP BY code ORDER BY code""".stripMargin),

    // X220 encoding QA on a deterministically corrupted twin of the
    // corpus: every 5th doc gains a UTF-8-read-as-latin1 mojibake
    // tail, every 7th a replacement char + C1 control — per-source
    // counts of each corruption witness plus the corpus non-ASCII ppm.
    QuerySpec("q255_encoding_qa", ((s, d) => {
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
      // Encoding QA: the corruption literals interpolate from the SAME
      // Scala constants the Spark query appends, so both engines scan
      // identical bytes; patterns are the RE2 spellings of the Java
      // classes ([\x{..}-\x{..}] == [\u....-\u....]).
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
         |FROM m GROUP BY source ORDER BY source""".stripMargin),
  )
}
