package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFeatures
import graft.ops.{BloomPrune, Contamination, Curation, FuzzyJoin, Similarity, TextDedup}

import Memos._
import Shared._

/** Duplicate detection and removal: exact / MinHash-LSH / SimHash /
  * n-gram Jaccard dedup over the demo corpus, its clusters and
  * calibration, fuzzy joins, decontamination, span and substring
  * scrubbing, and embedding near-duplicates. */
private[registry] object DedupQueries {

  val specs: Seq[QuerySpec] = Seq(
    // Exact dedup: one shuffle keyed on the text hash.
    QuerySpec("q21_dedup_exact", ((s, d) =>
      TextDedup.exactDupGroups(demoCorpus(Tables.documents(s, d)), "doc_id", "text")
        .orderBy(col("canonical_id"))),
      s"""WITH $corpusCte
         |SELECT min(doc_id) AS canonical_id, count(*) AS n_copies
         |FROM corpus GROUP BY text HAVING count(*) > 1
         |ORDER BY canonical_id""".stripMargin),

    // MinHash(16) + LSH(4 bands): bucket-join candidates, no all-pairs.
    // Shares the materialized candidate chain with q36.
    QuerySpec("q22_dedup_minhash_lsh", ((s, d) =>
      minhashPairs(s, d).orderBy(col("id_a"), col("id_b"))),
      s"""WITH $minhashCtes
         |SELECT id_a, id_b, est_jaccard FROM est ORDER BY id_a, id_b""".stripMargin,
      memos = Set("minhash_pairs")),

    // SimHash(30 bits) near-dups via the pigeonhole byte-band join.
    QuerySpec("q23_dedup_simhash", ((s, d) =>
      TextDedup.simhashPairs(demoCorpus(Tables.documents(s, d)), "doc_id", "text")
        .orderBy(col("id_a"), col("id_b"))),
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
         |ORDER BY id_a, id_b""".stripMargin),

    // Exact trigram Jaccard over shared-shingle candidates, with the
    // stop-shingle cap (doc frequency over distinct texts) bounding the
    // hot-key fan-out of the shingle-equality join. Shares the
    // materialized chain with q138's truth side (one spelling).
    QuerySpec("q24_dedup_ngram_jaccard", ((s, d) =>
      ngramTruthPairs(s, d).orderBy(col("id_a"), col("id_b"))),
      // Shingles are joined/counted as their polynomial hash (fixed-width
      // shuffle key), mirroring TextDedup.ngramJaccardPairs: hash FIRST,
      // then distinct — a collision merges shingles identically on both
      // engines.
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
      memos = Set("ngram_truth_pairs")),

    // Duplicate clusters: connected components (min-label propagation)
    // over high-confidence MinHash pairs — pairs become groups, one
    // representative (the min id) per component.
    QuerySpec("q36_dedup_clusters", ((s, d) =>
      minhashClusters(s, d)
        .select(col("node").as("doc_id"), col("cluster_id"))
        .orderBy(col("doc_id"))),
      s"""WITH RECURSIVE $minhashCtes,
         |cand AS (SELECT id_a, id_b FROM est WHERE est_jaccard >= 0.75),
         |und AS (SELECT id_a AS a, id_b AS b FROM cand UNION SELECT id_b, id_a FROM cand),
         |reach(node, r) AS (
         |  SELECT a, a FROM (SELECT DISTINCT a FROM und)
         |  UNION
         |  SELECT u.b, r.r FROM reach r JOIN und u ON u.a = r.node)
         |SELECT node AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
         |FROM reach GROUP BY 1 ORDER BY doc_id""".stripMargin,
      memos = Set("minhash_cc_labels", "minhash_pairs")),

    // Contamination spans: WHERE eval text leaks into the corpus —
    // merged token extents per contaminated doc, n=5 grams.
    QuerySpec("q190_contamination_spans", ((s, d) => {
      val docs = docsFanned(s, d)
      Contamination.contaminationSpans(docs,
          Tables.documents(s, d).filter(col("doc_id") % 10 === 0),
          "doc_id", "text", n = 5)
        .orderBy(col("doc_id"))
    }),
      // Contamination spans: eval gram-hash set, q79's interval sweep,
      // coverage ppm.
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
         |FROM a ORDER BY doc_id""".stripMargin),

    // Corpus self-similarity probe: one hash-partner per doc, exact
    // trigram Jaccard — the templated-corpus detector at |docs| cost.
    QuerySpec("q173_self_similarity", ((s, d) =>
      TextDedup.selfSimilarityProbe(docsFanned(s, d), "doc_id", "text")
        .orderBy(col("id_a"))),
      // Self-similarity: dense rank, hash partner skewed past self,
      // list_intersect Jaccard on distinct trigram lists.
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
        |FROM j ORDER BY id_a""".stripMargin),

    // LSH s-curve planner: P(candidate | s) for four (bands, rows)
    // configs on a 5% similarity grid — pick parameters BEFORE paying
    // for a corpus pass; integer powers, bit-identical table.
    QuerySpec("q166_lsh_scurve", ((s, d) =>
      TextDedup.lshSCurvePpm(s, Seq((2, 8), (4, 4), (8, 2), (16, 4)))
        .orderBy(col("bands"), col("rows_per_band"), col("s_pct"))),
      // LSH s-curve: the same truncating power folds via list_reduce —
      // r copies of s for s^r, b copies of (1e6 - p1) for the outer pow.
      """WITH cfg AS (SELECT * FROM (VALUES (2, 8), (4, 4), (8, 2), (16, 4)) c(b, r)),
        |g AS (SELECT b, r, s FROM cfg, (SELECT unnest(range(5, 105, 5)) AS s)),
        |p AS (SELECT b, r, s,
        |    list_reduce(list_transform(range(0, r), i -> CAST(s * 10000 AS BIGINT)),
        |      (a, x) -> (a * x) // 1000000) AS p1 FROM g)
        |SELECT CAST(b AS BIGINT) AS bands, CAST(r AS BIGINT) AS rows_per_band,
        |  CAST(s AS BIGINT) AS s_pct,
        |  CAST(1000000 - list_reduce(list_transform(range(0, b), i -> 1000000 - p1),
        |    (a, x) -> (a * x) // 1000000) AS BIGINT) AS collide_ppm
        |FROM p ORDER BY bands, rows_per_band, s_pct""".stripMargin),

    // Dedup impact: q36's clusters + token weights — the cluster-size
    // histogram with doc/token savings under keep-lowest-id.
    QuerySpec("q164_dedup_impact", ((s, d) => {
      val corpus = demoCorpus(Tables.documents(s, d))
      val pairs = minhashPairs(s, d).filter(col("est_jaccard") >= 0.75)
        .select(col("id_a").as("a"), col("id_b").as("b"))
      val labels = graft.ops.ConnectedComponents.labels(pairs)
      TextDedup.dedupImpact(labels, corpus, "doc_id",
          size(TextFeatures.tokens(col("text"))).cast("long"))
        .orderBy(col("cluster_size"))
    }),
      // Dedup impact: recursive clusters, survivor = min id, savings
      // rolled up by cluster size.
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
      memos = Set("minhash_pairs")),

    // Near-dup source overlap matrix: q22's LSH pairs at 0.75 rolled
    // to (source, source) counts — which dumps copy from which.
    QuerySpec("q163_source_overlap", ((s, d) => {
      val pairs = minhashPairs(s, d).filter(col("est_jaccard") >= 0.75)
      val src = demoCorpus(Tables.documents(s, d))
        .select(col("doc_id"), (col("doc_id") % 10000).as("__base"))
        .join(Tables.documents(s, d)
          .select(col("doc_id").as("__base"), col("source")), Seq("__base"))
        .select(col("doc_id"), col("source"))
      TextDedup.sourceOverlapMatrix(pairs, src, "doc_id", "source")
        .orderBy(col("src_a"), col("src_b"))
    }),
      // Source overlap: est >= 0.75 pairs; corpus ids map to sources by
      // base id (% 10000); unordered pairs via least/greatest.
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
      memos = Set("minhash_pairs")),

    // Leakage-safe split: q36's near-dup clusters pin every duplicate
    // group to ONE side of the train/val/test boundary — the per-doc
    // hash split leaves a 99% straddle probability per dup pair.
    QuerySpec("q151_leakage_split", ((s, d) => {
      val corpus = demoCorpus(Tables.documents(s, d))
      val pairs = minhashPairs(s, d).filter(col("est_jaccard") >= 0.75)
        .select(col("id_a").as("a"), col("id_b").as("b"))
      Curation.leakageSafeSplit(corpus, "doc_id", "text", pairs)
        .orderBy(col("doc_id"))
    }),
      // Leakage split: q36's recursive clusters; singletons group as
      // themselves; every member takes the REP's (text#id) hash bucket.
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
      memos = Set("minhash_pairs")),

    // Best-survivor dedup: q36's duplicate clusters, but the survivor
    // is the HIGHEST-QUALITY member (ppm score, ties to min id) — the
    // policy production pipelines actually want.
    QuerySpec("q147_best_survivor", ((s, d) => {
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
      // Best survivor: q36's recursive clusters + the q85 ppm score,
      // survivor by (score DESC, id ASC).
      {
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
      memos = Set("minhash_cc_labels", "minhash_pairs")),

    // Span-level exact dedup (Lee et al. arXiv:2107.06499): duplicated
    // 5-token windows across DISTINCT docs, overlapping spans merged by
    // a running-max interval sweep into exact covered-token counts.
    // Corpus = documents ∪ 60%-prefix truncations (no clones, so
    // coverage is PARTIAL and the merge is actually exercised).
    QuerySpec("q79_span_dedup", ((s, d) => {
      val docs = Tables.documents(s, d)
      TextDedup.dupSpanCoverage(
          docs.select(col("doc_id"), col("text")).unionByName(truncDocs(docs)),
          "doc_id", "text", windowTokens = 5)
        .orderBy(col("doc_id"))
    }),
      // Mirrors TextDedup.dupSpanCoverage over documents ∪ truncations:
      // 5-token sliding window hashes, df over DISTINCT docs > 1 marks
      // duplicated spans, running-max interval sweep merges overlaps.
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
         |FROM sweep GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // Winnowing fingerprints (MOSS, SIGMOD'03): per-window min-hash
    // selection with rightmost tie-break over 8-char grams, window 4 —
    // expected fingerprint density 2/(w+1). One explode + one per-doc
    // window function; no self-join.
    QuerySpec("q80_winnow_fingerprints", ((s, d) =>
      TextDedup.winnowFingerprints(docsFanned(s, d), "doc_id", "text",
          k = 8, w = 4)
        .orderBy(col("doc_id"))),
      // Mirrors TextDedup.winnowFingerprints (k=8, w=4): encoded-key
      // window max = min gram hash with rightmost tie-break; fingerprint
      // set folded order-free as Σ (h·pos mod P).
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
         |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // Benchmark decontamination: which corpus docs share any trigram
    // with the held-out eval slice (doc_id % 50 = 0)? Eval n-gram hash
    // set broadcast; exactly one corpus pass.
    QuerySpec("q43_decontaminate", ((s, d) => {
      val docs = docsFanned(s, d)
      Contamination.ngramOverlap(
        docs.filter(col("doc_id") % 50 =!= 0),
        docs.filter(col("doc_id") % 50 === 0), "doc_id", "text", 3)
        .orderBy(col("doc_id"))
    }),
      // Mirrors Contamination.ngramOverlap: trigram strings hashed FIRST,
      // then per-doc distinct; the eval slice (doc_id % 50 = 0) supplies
      // the probe set; a left join + hit count per corpus doc. Docs with
      // < 3 tokens carry no trigram and are absent (shingle guard).
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
         |GROUP BY co.doc_id ORDER BY doc_id""".stripMargin),

    // C4-style boilerplate-block removal over the duplicate-salted demo
    // corpus: 5-token blocks occurring in > 2 distinct docs are cut,
    // docs re-assembled from surviving blocks in order.
    QuerySpec("q50_block_dedup", ((s, d) =>
      TextDedup.blockBoilerplate(demoCorpus(Tables.documents(s, d)), "doc_id", "text",
          blockTokens = 5, maxBlockDf = 2)
        .orderBy(col("doc_id"))),
      // Mirrors TextDedup.blockBoilerplate over the demo corpus:
      // non-overlapping 5-token blocks, hashed; document frequency over
      // DISTINCT docs; blocks with df > 2 cut; text re-joined in block
      // order. Empty kept set → n_kept 0, kept_text ''.
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
         |GROUP BY hb.doc_id ORDER BY hb.doc_id""".stripMargin),

    // Near-dup corpus MATERIALIZATION: the kept corpus after minhash
    // clustering at est ≥ 0.75 — one canonical (min-id) doc per
    // cluster survives; the corpus itself never shuffles (single
    // anti-join against the small non-canonical member set). Composed
    // from the memoized q22/q36 candidate chain here for bench parity;
    // the self-contained operator ([[TextDedup.dedupedCorpus]]) is the
    // same composition, pinned by TextDedupSpec.
    QuerySpec("q70_deduped_corpus", ((s, d) => {
      val drop = graft.ops.ConnectedComponents.labels(
          minhashPairs(s, d).filter(col("est_jaccard") >= 0.75)
            .select(col("id_a").as("a"), col("id_b").as("b")))
        .filter(col("node") =!= col("cluster_id"))
        .select(col("node").as("doc_id"))
      demoCorpus(Tables.documents(s, d)).join(drop, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"))
        .orderBy(col("doc_id"))
    }),
      // Mirrors TextDedup.dedupedCorpus (threshold 0.75): q36's recursive
      // component labels, then corpus minus non-canonical members.
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
      memos = Set("minhash_pairs")),

    // Embedding near-duplicate clusters: connected components over the
    // capped sign-LSH pair graph (q25's candidates) — the embedding
    // twin of q36's text clusters.
    QuerySpec("q58_embedding_clusters", ((s, d) => {
      val pairs = Similarity.nearDupPairs(embCorpus(s, d), "vec_id", "embedding", 0.99)
        .select(col("id_a").as("a"), col("id_b").as("b"))
      graft.ops.ConnectedComponents.labels(pairs)
        .select(col("node").as("vec_id"), col("cluster_id"))
        .orderBy(col("vec_id"))
    }),
      // q25's pair graph at the same 0.99 threshold, collapsed to
      // connected components (min reachable id per node) — mirrors
      // ConnectedComponents.labels over Similarity.nearDupPairs.
      s"""WITH RECURSIVE $embPairCtes,
         |cand AS (SELECT id_a, id_b FROM pairs WHERE ${cosSql("va", "vb")} >= 0.99),
         |und AS (SELECT id_a AS a, id_b AS b FROM cand UNION SELECT id_b, id_a FROM cand),
         |reach(node, r) AS (
         |  SELECT a, a FROM (SELECT DISTINCT a FROM und)
         |  UNION
         |  SELECT u.b, r.r FROM reach r JOIN und u ON u.a = r.node)
         |SELECT node AS vec_id, CAST(min(r) AS BIGINT) AS cluster_id
         |FROM reach GROUP BY 1 ORDER BY vec_id""".stripMargin),

    // Incremental dedup: the truncated variants play a NEW daily batch
    // deduplicated against the EXISTING corpus through the band-bucket
    // join alone — the corpus is never self-paired (that quadratic work
    // is historical), which is the continuously-ingested-data path.
    QuerySpec("q65_incremental_dedup", ((s, d) => {
      val base = Tables.documents(s, d)
      TextDedup.minhashCandidatesAgainst(truncDocs(base), base, "doc_id", "text")
        .orderBy(col("id_new"), col("id_corpus"))
    }),
      // Mirrors TextDedup.minhashCandidatesAgainst: the truncated-variant
      // batch's band table joined against the corpus's band table — two
      // instances of the standard minhash chain (prefixes n/c), no
      // self-pairing on either side.
      s"""WITH trunc AS (SELECT doc_id + 20000 AS doc_id,
         |    array_to_string(list_slice(toks, 1, CAST((len(toks)*3)//5 AS INT)), ' ') AS text
         |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM documents)
         |  WHERE doc_id % 5 = 0 AND len(toks) >= 5),
         |${minhashChain("trunc", "n")},
         |${minhashChain("documents", "c")}
         |SELECT DISTINCT a.doc_id AS id_new, b.doc_id AS id_corpus,
         |  CAST(len(list_filter(range(1, 17), i -> a.sig[i] = b.sig[i])) AS DOUBLE)/16 AS est_jaccard
         |FROM nband a JOIN cband b ON a.band = b.band AND a.bucket = b.bucket
         |ORDER BY id_new, id_corpus""".stripMargin),

    // The COMPLETE incremental-dedup step: q65's truncated batch is
    // doubled (ids +10000, same texts), so the arrival carries its own
    // internal duplicates — the step must surface new-vs-corpus pairs
    // through the persisted band index AND new-vs-new pairs within the
    // batch, in one call (the grown index is pinned by StreamingSpec's
    // sequential ≡ combined equivalence).
    QuerySpec("q67_incremental_dedup_full", ((s, d) => {
      val base = Tables.documents(s, d)
      val trunc = truncDocs(base)
      val batch = trunc.unionByName(
        trunc.select((col("doc_id") + 10000).as("doc_id"), col("text")))
      val idx = TextDedup.corpusBandIndex(base, "doc_id", "text")
      TextDedup.incrementalDedupStep(batch, idx, "doc_id", "text")
        .pairs.orderBy(col("pair_src"), col("id_a"), col("id_b"))
    }),
      // Mirrors TextDedup.incrementalDedupStep: the doubled truncated
      // batch's band table joined against the corpus band table (cross,
      // 'corpus') plus the batch chain's own self-join ('batch') — the
      // minhashChain `nest` CTE IS the within-batch pair set.
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
         |) ORDER BY pair_src, id_a, id_b""".stripMargin),

    // Semantic decontamination: corpus embeddings vs the broadcast
    // eval-seed set (vec_id < 20 plays the held-out benchmark) — each
    // doc's closest seed + cosine + flag at 0.9. The embedding-space
    // complement of q43's n-gram overlap.
    QuerySpec("q64_semantic_decontaminate", ((s, d) => {
      val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      Contamination.semanticOverlap(
          e.filter(col("vec_id") >= 20), e.filter(col("vec_id") < 20),
          "vec_id", "embedding", 0.9)
        .orderBy(col("vec_id"))
    }),
      // Mirrors Contamination.semanticOverlap (threshold 0.9, seeds =
      // vec_id < 20): argmax cosine per corpus doc, ties to the lower
      // seed id, same left-to-right double fold as every embedding oracle.
      s"""WITH c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 20),
         |s AS (SELECT vec_id AS near_seed, embedding AS se FROM embeddings WHERE vec_id < 20),
         |sc AS (SELECT c.vec_id, s.near_seed, ${cosSql("c.embedding", "s.se")} AS cosine FROM c, s),
         |r AS (SELECT vec_id, near_seed, cosine,
         |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cosine DESC, near_seed ASC) AS rn FROM sc)
         |SELECT vec_id, near_seed, cosine, CAST(cosine >= 0.9 AS BIGINT) AS contaminated
         |FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin),

    // Edit-distance similarity join (fuzzy near-key matching): 30-char
    // doc prefixes plus one-deletion mutants, all pairs within 2 edits
    // via the lossless positional rare-q-gram prefix (q=4 keeps the
    // flat word vocabulary informative) + banded levenshtein confirm.
    QuerySpec("q87_edit_join", ((s, d) =>
      editJoinPairs(s, d).orderBy(col("id_a"), col("id_b"))),
      // Mirrors FuzzyJoin.editDistanceJoin's CONTRACT (all pairs within
      // maxDist=2 among length>=12 strings) as the brute-force
      // length-filtered join — the prefix signature is a lossless
      // optimization, so the pair sets agree exactly.
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
      memos = Set("edit_join_pairs")),

    // Bloom-pruned semi join: pull every document whose text fingerprint
    // is on the (doc_id % 13) blocklist — the bitmap probe kills
    // non-matches inside the scan, only candidates shuffle, the real
    // join removes false positives. Result ≡ plain semi join.
    QuerySpec("q89_bloom_prune", ((s, d) => {
      val docs = Tables.documents(s, d)
      BloomPrune.prunedSemiJoin(docs,
          docs.filter(col("doc_id") % 13 === 0), col("text"), col("text"))
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }),
      // Mirrors BloomPrune.prunedSemiJoin's CONTRACT: the bloom pass is
      // pure pruning (no false negatives; positives re-checked by the
      // join), so the result is the plain fingerprint semi join.
      s"""SELECT doc_id, source FROM documents
         |WHERE ${dh("text")} IN
         |  (SELECT ${dh("text")} FROM documents WHERE doc_id % 13 = 0)
         |ORDER BY doc_id""".stripMargin),

    // Asymmetric containment: the 60%-prefix truncations are (near-)
    // fully contained in their source docs even though their Jaccard
    // is ~0.6 — the quote/subset detector at the 80% ppm threshold.
    QuerySpec("q105_containment", ((s, d) => {
      val docs = Tables.documents(s, d)
      Contamination.containmentPairs(docs, truncDocs(docs), "doc_id",
          "text", shingleN = 3, minContainPpm = 800000L,
          maxShingleDf = StopShingleDf)
        .orderBy(col("id_a"), col("id_b"))
    }),
      // Mirrors Contamination.containmentPairs: per-doc distinct trigram
      // shingle hashes, corpus-df stop cap applied to both sides AND the
      // denominator, truncating ppm quotient.
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
         |ORDER BY id_a, id_b""".stripMargin),

    // Entity resolution end-to-end: q87's edit-distance pair graph
    // collapsed to connected components — near-key variants cluster
    // under one canonical (min) entity id.
    QuerySpec("q106_entity_clusters", ((s, d) =>
      // q87's pair graph (shared memoized chain) collapsed to components.
      graft.ops.ConnectedComponents.labels(
          editJoinPairs(s, d).select(col("id_a").as("a"), col("id_b").as("b")))
        .select(col("node").as("doc_id"), col("cluster_id").as("entity_id"))
        .orderBy(col("doc_id"))),
      // q87's edit-distance pair graph, collapsed by the q36 recursive
      // min-reachable-id closure.
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
      memos = Set("edit_join_pairs")),

    // Sorted-neighborhood blocking on the duplicate-heavy corpus: the
    // 24-char text prefix as the sort key puts clones and truncations
    // adjacent; candidates = each doc's 5 nearest ranks.
    QuerySpec("q121_sorted_neighborhood", ((s, d) =>
      FuzzyJoin.sortedNeighborhoodPairs(demoCorpus(Tables.documents(s, d)),
          "doc_id", substring(col("text"), 1, 24), winSize = 5)
        .orderBy(col("id_a"), col("id_b"))),
      // Sorted neighborhood: global rank over (prefix, id), pairs within
      // 5 ranks — the oracle spells the rank as one ROW_NUMBER.
      s"""WITH $corpusCte,
         |r AS (SELECT doc_id,
         |  CAST(row_number() OVER (ORDER BY substring(text, 1, 24), doc_id) AS BIGINT) AS rnk
         |  FROM corpus)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b, b.rnk - a.rnk AS gap
         |FROM r a JOIN r b ON b.rnk > a.rnk AND b.rnk <= a.rnk + 5
         |ORDER BY id_a, id_b""".stripMargin),

    // Dump-mixing dedup across three tagged sources: primary beats the
    // byte-identical mirror; truncations survive from their own source.
    QuerySpec("q124_provenance_dedup", ((s, d) => {
      val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
      TextDedup.provenanceDedup(Seq(
          ("primary", base),
          ("mirror", base.select((col("doc_id") + 10000).as("doc_id"), col("text"))),
          ("trunc", truncDocs(Tables.documents(s, d)))),
        "doc_id", "text")
        .orderBy(col("source"), col("doc_id"))
    }),
      // Provenance dedup: group by text, survivor = struct-min over
      // (priority, id, source); the trunc arm mirrors the corpus CTE.
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
        |ORDER BY source, doc_id""".stripMargin),

    // Prefix-truncation dups: docs plus 40-char truncated re-fetches;
    // every strict-prefix text paired with its first extension via one
    // adjacent-pair check per distinct text.
    QuerySpec("q134_prefix_dups", ((s, d) => {
      val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val trunc = base.filter(col("doc_id") % 4 === 0)
        .select((col("doc_id") + 50000).as("doc_id"),
          substring(col("text"), 1, 40).as("text"))
      TextDedup.prefixDupPairs(base.unionByName(trunc), "doc_id", "text")
        .orderBy(col("prefix_id"), col("full_id"))
    }),
      // Prefix dups: distinct texts, LEAD over the text order, strict
      // startswith confirm on the adjacent pair.
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
        |ORDER BY prefix_id, full_id""".stripMargin),

    // Dedup calibration: precision/recall of the MinHash-LSH retrieval
    // set against exact trigram-Jaccard >= 0.5 truth on the same demo
    // corpus — the evaluation harness that justifies LSH band/row
    // parameters before they gate a real corpus.
    QuerySpec("q138_dedup_calibration", ((s, d) => {
      val cand = minhashPairs(s, d)
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
      // Calibration: q22's est chain as the candidate set, q24's exact
      // chain as truth (tok is shared), confusion counts off a full join.
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
      memos = Set("minhash_pairs", "ngram_truth_pairs")),

    // Scrub composition: q190 locates the leaked spans, this CUTS them
    // and re-digests the remainder — the X163→X26 decontamination loop
    // closed end-to-end over the whole corpus.
    QuerySpec("q204_scrub_spans", ((s, d) =>
      Contamination.scrubSpans(docsFanned(s, d),
          Tables.documents(s, d).filter(col("doc_id") % 10 === 0),
          "doc_id", "text", n = 5)
        .orderBy(col("doc_id"))),
      // Scrub: q190's window/hit chain, then cut covered 1-based token
      // indices (p <= i <= p+4) and re-digest the space-rejoined rest.
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
         |FROM k ORDER BY doc_id""".stripMargin),

    // ExactSubstr self-dedup (Lee et al. 2022) over the clone+trunc
    // corpus: every 5-token window occurring more than once keeps only
    // its first (doc_id, pos) occurrence — clones scrub to nothing,
    // truncations lose their copied prefix, originals survive whole.
    QuerySpec("q212_self_scrub", ((s, d) =>
      TextDedup.selfScrub(demoCorpus(docsFanned(s, d)), "doc_id", "text", 5)
        .orderBy(col("doc_id"))),
      // Mirrors TextDedup.selfScrub over the clone+trunc corpus: keep
      // the minimal doc_id*2^22+pos occurrence per duplicated window,
      // cut every later one, re-digest (q204's scrub tail verbatim).
      selfScrubSql),

    // The X186 incremental composition as two id-ordered arrivals
    // (originals, then clones+truncs): the union of the two steps'
    // scrubbed outputs must equal one-shot q212 — the oracle IS
    // q212's SQL, so any drift between the incremental and batch
    // spellings hash-mismatches.
    QuerySpec("q220_self_scrub_inc", ((s, d) => {
      val corpus = demoCorpus(docsFanned(s, d))
      val step1 = TextDedup.selfScrubStep(
        corpus.filter(col("doc_id") < 10000),
        TextDedup.emptyScrubIndex(s), "doc_id", "text", 5)
      val step2 = TextDedup.selfScrubStep(
        corpus.filter(col("doc_id") >= 10000),
        step1.index, "doc_id", "text", 5)
      step1.scrubbed.unionByName(step2.scrubbed).orderBy(col("doc_id"))
    }),
      // The incremental composition must land exactly on the one-shot
      // answer — same corpus, same SQL.
      selfScrubSql),

    // X219 blocked Jaro–Winkler matching over the distinct part-name
    // vocabulary: block on the first token (Winkler's prefix boost
    // concentrates high scores on shared prefixes), verify with the
    // integer-exact ppm comparator, keep pairs >= 0.888 — a threshold
    // inside a measured >=10000-ppm gap of the vocabulary's exact
    // score distribution, so the oracle's float spelling cannot
    // straddle it. Output keeps the integer-exact columns only.
    QuerySpec("q254_jw_blocking", ((s, d) =>
      FuzzyJoin.jaroWinklerPairs(
        Tables.part(s, d).select(col("p_name").as("name"),
          element_at(split(col("p_name"), " "), 1).as("blk")),
        "name", "blk", minPpm = 888000L)
        .select(col("name_a"), col("name_b"), col("lev"))
        .orderBy(col("name_a"), col("name_b"))),
      // Blocked Jaro–Winkler: DuckDB's jaro_winkler_similarity is the
      // same classic definition (floored transposition count, 0.1 prefix
      // scale capped at 4, boost past jaro > 0.7) computed in doubles;
      // the 0.888 threshold sits in a measured >=10000-ppm gap of the
      // vocabulary's exact score distribution, so the double can't
      // straddle it and the PAIR SET matches exactly. Only integer-exact
      // columns (names, levenshtein) are emitted.
      """WITH t AS (SELECT DISTINCT p_name AS name,
        |    string_split(p_name, ' ')[1] AS blk FROM part)
        |SELECT a.name AS name_a, b.name AS name_b,
        |  CAST(levenshtein(a.name, b.name) AS BIGINT) AS lev
        |FROM t a JOIN t b ON a.blk = b.blk AND a.name < b.name
        |WHERE jaro_winkler_similarity(a.name, b.name) >= 0.888
        |ORDER BY name_a, name_b""".stripMargin),

    // X201 index compaction under the hard gate: TTL (id >= 2000) +
    // keep-50-earliest per (band, bucket) over the X193 banded
    // embedding index — the maintenance pass that bounds a
    // continuously-grown LSH index.
    QuerySpec("q235_compact_index", ((s, d) =>
      TextDedup.compactBandedIndex(
          Similarity.nearDupIndex(Tables.embeddings(s, d), "vec_id", "embedding"),
          maxBucket = 5, minId = 100)
        .select(col("band").cast("long").as("band"), col("bucket"), col("id"))
        .orderBy(col("band"), col("bucket"), col("id"))),
      // Mirrors TextDedup.compactBandedIndex over Similarity.nearDupIndex
      // (planes=8, bands=2): TTL filter, then keep the 5 earliest ids
      // per (band, bucket) by row_number.
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
        |FROM r WHERE rn <= 5 ORDER BY band, bucket, id""".stripMargin),
  )
}
