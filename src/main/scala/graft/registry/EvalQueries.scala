package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{TextAnalysis, TextFeatures}
import graft.ops.{Clustering, Curation, EvalMetrics, Profiler, Sketches}

import Shared._

/** Evaluation and curation: classifier and retrieval metrics,
  * calibration, drift and distribution tests, profiling and privacy
  * audits, clustering quality, sampling,
  * splitting and mixture selection. */
private[registry] object EvalQueries {

  val specs: Seq[QuerySpec] = Seq(
    // Quantile-shift drift: event-value p50/p90 before vs after the
    // period midpoint, per type — the drift view TVD can't localize.
    QuerySpec("q201_quantile_shift", ((s, d) =>
      Profiler.quantileShift(Tables.events(s, d), "event_type",
          expr("floor(value * 1000)"),
          expr("floor(unix_timestamp(ts)) >= 1706054400"),
          pcts = Seq(50, 90))
        .orderBy(col("event_type"), col("pct"))),
      // Quantile shift: the q56 rank formula per (side, group), joined.
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
        |ORDER BY event_type, bf.pct""".stripMargin),

    // Isotonic calibration: the monotone fix for the quality score's
    // probabilities — binned PAVA via the minimax closed form.
    QuerySpec("q195_isotonic", ((s, d) =>
      EvalMetrics.isotonicCalibrationPpm(qualityLabeled(s, d),
          col("score_ppm"), col("__lbl"), bins = 10)
        .orderBy(col("bin"))),
      // Isotonic: prefix sums, floored pooled rates, minimax over
      // (k <= i <= j) triples.
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
         |FROM pre JOIN ft USING (bin) ORDER BY bin""".stripMargin),

    // Source-interleaved training order: round-robin across sources,
    // hash-shuffled within each — the curriculum-neutral schedule.
    QuerySpec("q196_interleave", ((s, d) =>
      Curation.sourceInterleave(Tables.documents(s, d), "doc_id",
          "text", "source")
        .orderBy(col("global_pos"))),
      // Interleave: per-source hash-order rank, then the global
      // (rank, source) order is the schedule.
      s"""WITH h AS (SELECT doc_id, source,
         |    ${dh("text || '#' || CAST(doc_id AS VARCHAR)")} AS hh FROM documents),
         |r AS (SELECT doc_id, source,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY hh, doc_id) AS BIGINT) AS rnk
         |  FROM h)
         |SELECT doc_id, source, rnk AS rank_in_source,
         |  CAST(ROW_NUMBER() OVER (ORDER BY rnk, source, doc_id) AS BIGINT) AS global_pos
         |FROM r ORDER BY global_pos""".stripMargin),

    // Cluster purity: q39's k-means assignments vs the embedding
    // labels — which clusters are clean, which are mixed.
    QuerySpec("q193_cluster_purity", ((s, d) => {
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
      // Cluster purity: the q39 Lloyd chain, label join, window-free
      // majority with (count DESC, label ASC) ties.
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
         |FROM rk WHERE rn = 1 ORDER BY cluster_id""".stripMargin),

    // Expected calibration error: the q181 bins rolled to (ECE, MCE).
    QuerySpec("q192_ece", ((s, d) =>
      EvalMetrics.ecePpm(qualityLabeled(s, d), col("score_ppm"),
        col("__lbl"), bins = 10)),
      // ECE/MCE: q181's floored per-bin gaps, occupancy-weighted.
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
         |FROM c""".stripMargin),

    // Brier score per source: does the quality score's claimed
    // probability survive the squared-error bill — AUC can't see this.
    QuerySpec("q187_brier", ((s, d) =>
      EvalMetrics.brierPpm(qualityLabeled(s, d), "source",
          col("score_ppm"), col("__lbl"))
        .orderBy(col("source"))),
      // Brier: squared ppm gap, HUGEINT squares, floor div.
      s"""WITH $qualityLabeledCte,
         |d AS (SELECT source, score_ppm - l * 1000000 AS d FROM lb)
         |SELECT source, CAST(count(*) AS BIGINT) AS n,
         |  CAST(SUM(CAST(d AS HUGEINT) * d) // (CAST(count(*) AS HUGEINT) * 1000000)
         |    AS BIGINT) AS brier_ppm
         |FROM d GROUP BY 1 ORDER BY source""".stripMargin),

    // Per-class PRF for the lang-id heuristic vs metadata — the
    // readable rollup of q95's confusion matrix.
    QuerySpec("q188_per_class_prf", ((s, d) => {
      val docs = docsFanned(s, d)
      EvalMetrics.perClassPrf(
          docs.select(TextAnalysis.langId(TextFeatures.tokens(col("text")))
            .as("pred"), col("lang")),
          col("pred"), col("lang"))
        .orderBy(col("label"))
    }),
      // Per-class PRF: q28's langid CASE, margins full-outer so one-
      // sided classes still report.
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
         |FROM m ORDER BY label""".stripMargin),

    // Robust z-scores for event values per type: median/MAD
    // standardization as a per-row feature, signed tenths.
    QuerySpec("q189_robust_z", ((s, d) =>
      Profiler.robustZ(Tables.events(s, d), "event_type", "event_id",
          expr("floor(value * 1000)"))
        .orderBy(col("id"))),
      // Robust z: q156's median/MAD walks on event values, joined back
      // to rows, sign-split tenths.
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
        |ORDER BY b.id""".stripMargin),

    // PII density by source: the q44 salted corpus measured per
    // source, normalized per million tokens — the release-gate number.
    QuerySpec("q184_pii_density", ((s, d) => {
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
      // PII density: q44's salted corpus, same regexes, source rollup.
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
         |FROM g GROUP BY 1 ORDER BY source""".stripMargin),

    // Trimmed mean of event values (10% each side) per type — the
    // robust location next to q156's MAD fences.
    QuerySpec("q185_trimmed_mean", ((s, d) =>
      Profiler.trimmedMean(Tables.events(s, d), "event_type",
          expr("floor(value * 1000)"), trimPct = 10)
        .orderBy(col("event_type"))),
      // Trimmed mean: rank-clip on the compacted (group, value, count)
      // domain, boundary blocks contribute their inside portion.
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
        |FROM a ORDER BY event_type""".stripMargin),

    // Group AUC: does the quality heuristic actually rank English
    // (the dominant curated class here) above the rest, per source?
    QuerySpec("q180_auc", ((s, d) => {
      EvalMetrics.aucPpm(qualityLabeled(s, d), "source",
          col("score_ppm"), col("__lbl"))
        .orderBy(col("source"))
    }),
      // Group AUC: compacted-score doubled ranks, the Mann-Whitney
      // identity in HUGEINT, degenerate one-class groups read 0.
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
         |FROM a ORDER BY source""".stripMargin),

    // Calibration bins: the quality score read as a probability —
    // claimed ppm vs empirical positive rate in 10 cells.
    QuerySpec("q181_calibration", ((s, d) =>
      EvalMetrics.calibrationBins(qualityLabeled(s, d),
          col("score_ppm"), col("__lbl"), bins = 10)
        .orderBy(col("bin"))),
      // Calibration: 10 equal ppm cells, claimed mean vs empirical rate.
      s"""WITH $qualityLabeledCte,
         |b AS (SELECT least(9, (score_ppm * 10) // 1000000) AS bin, score_ppm, l FROM lb),
         |g AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
         |    CAST(SUM(score_ppm) AS HUGEINT) AS ss, CAST(SUM(l) AS BIGINT) AS sl
         |  FROM b GROUP BY 1)
         |SELECT CAST(bin AS BIGINT) AS bin, n,
         |  CAST(ss // n AS BIGINT) AS mean_score_ppm,
         |  CAST((sl * 1000000) // n AS BIGINT) AS pos_rate_ppm,
         |  CAST((sl * 1000000) // n - ss // n AS BIGINT) AS gap_ppm
         |FROM g ORDER BY bin""".stripMargin),

    // Threshold sweep: precision/recall/F1 at every distinct quality
    // cut in one pass — the quality-gate operating-point table.
    QuerySpec("q182_threshold_sweep", ((s, d) =>
      EvalMetrics.thresholdSweep(qualityLabeled(s, d),
          col("score_ppm"), col("__lbl"))
        .orderBy(col("threshold"))),
      // Threshold sweep: descending cumulative over distinct scores.
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
         |FROM f ORDER BY threshold""".stripMargin),

    // Cohen's kappa: lang-id heuristic vs the metadata lang column —
    // chance-corrected agreement of the two labelings.
    QuerySpec("q183_kappa", ((s, d) => {
      val docs = docsFanned(s, d)
      EvalMetrics.cohensKappaPpm(
        docs.select(TextAnalysis.langId(TextFeatures.tokens(col("text")))
          .as("pred"), col("lang")),
        col("pred"), col("lang"))
    }),
      // Kappa: q28's langid CASE as rater A, metadata lang as rater B;
      // exact-integer chance correction, sign-split.
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
         |FROM f""".stripMargin),

    // Histogram-matched resample: thin the corpus so its length
    // distribution matches the English subset's, hash-deterministic.
    QuerySpec("q179_match_resample", ((s, d) => {
      val docs = Tables.documents(s, d)
      Curation.matchResample(docs, docs.filter(col("lang") === "en"),
          "doc_id", "text", bucketWidth = 10)
        .orderBy(col("doc_id"))
    }),
      // Histogram-matched resample: per-bucket capped importance rate,
      // keep iff hash(text#id) mod 1e6 below it.
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
         |FROM b JOIN r ON r.bucket = b.bucket ORDER BY b.doc_id""".stripMargin),

    // Deterministic word-dropout augmentation (15%, variant 1) — the
    // auditable text-augmentation primitive, hash in place of RNG.
    QuerySpec("q174_token_dropout", ((s, d) =>
      Curation.tokenDropout(docsFanned(s, d), "doc_id", "text",
          dropPermille = 150, variant = 1)
        .orderBy(col("doc_id"))),
      // Token dropout: list_filter with the 1-based index shifted to
      // Spark's 0-based positions, same hash, keep iff >= 150.
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
        |FROM k ORDER BY doc_id""".stripMargin),

    // k-anonymity audit at k=10 over the (lang, source) quasi-
    // identifier — the re-identification risk number per release.
    QuerySpec("q172_k_anonymity", ((s, d) =>
      Profiler.kAnonymityAudit(Tables.documents(s, d),
        Seq("lang", "source"), 10L)),
      // k-anonymity: QI group sizes, below-k rollup.
      """WITH g AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS sz
        |  FROM documents GROUP BY 1, 2)
        |SELECT CAST(10 AS BIGINT) AS k_threshold,
        |  CAST(count(*) AS BIGINT) AS n_groups,
        |  CAST(SUM(sz) AS BIGINT) AS n_rows,
        |  CAST(SUM(CASE WHEN sz < 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_groups_below,
        |  CAST(SUM(CASE WHEN sz < 10 THEN sz ELSE 0 END) AS BIGINT) AS n_rows_at_risk,
        |  CAST(MIN(sz) AS BIGINT) AS min_group_size
        |FROM g""".stripMargin),

    // Stratified 5-fold CV assignment per language: exact fold
    // balance inside every stratum, hash-shuffled, deterministic.
    QuerySpec("q170_kfold", ((s, d) =>
      Curation.stratifiedKFold(Tables.documents(s, d), "doc_id", "text",
          "lang", k = 5)
        .orderBy(col("lang"), col("rnk"))),
      // K-fold: per-lang ROW_NUMBER over (text#id hash, id), fold =
      // (rn-1) % 5.
      s"""WITH h AS (SELECT lang, doc_id,
         |    ${dh("text || '#' || CAST(doc_id AS VARCHAR)")} AS hh
         |  FROM documents),
         |r AS (SELECT lang, doc_id,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY lang
         |      ORDER BY hh ASC, doc_id ASC) AS BIGINT) AS rnk FROM h)
         |SELECT lang, doc_id, rnk, CAST((rnk - 1) % 5 AS BIGINT) AS fold
         |FROM r ORDER BY lang, rnk""".stripMargin),

    // Dataset card: one-row corpus summary (volume, diversity, dup
    // share, median length) over documents ∪ exact clones.
    QuerySpec("q167_data_card", ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("text"), col("lang"), col("source"))
      val corpus = docs.unionByName(
        docs.select((col("doc_id") + 10000).as("doc_id"), col("text"),
          col("lang"), col("source")))
      Profiler.dataCard(corpus, "doc_id", "text", "lang", "source")
    }),
      // Data card: scalar aggregates + lang-Gini rational + compacted
      // median walk, all over the doubled corpus.
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
         |FROM sc, md, gi""".stripMargin),

    // Water-filling: 10k-token budget over languages — small langs
    // cap at their full size, the rest split the remainder equally.
    QuerySpec("q160_water_fill", ((s, d) =>
      Curation.waterFillAlloc(docsFanned(s, d), "lang",
        size(TextFeatures.tokens(col("text"))).cast("long"), budget = 10000L)),
      // Water-filling: ascending-availability prefix test (division-
      // free cross-multiply), level t = (B - S_j) // (G - j).
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
        |FROM i, j, sj ORDER BY i.lang""".stripMargin),

    // Benford first-digit audit of prices vs the bounded quantity
    // column — the fabricated-data detector, log-free.
    QuerySpec("q158_benford", ((s, d) =>
      Profiler.benfordPpm(Tables.lineitem(s, d).select(
          floor(col("l_extendedprice")).cast("long").as("price"),
          floor(col("l_quantity")).cast("long").as("qty")),
        Seq("price", "qty"))
        .orderBy(col("col_name"), col("digit"))),
      // Benford: first digit from the string rendering of the abs long,
      // ppm shares vs the nine inlined expectations.
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
        |ORDER BY col_name, digit""".stripMargin),

    // Type sniffing over a staged all-VARCHAR frame: anchored-regex
    // class counts + a 95% verdict — the pre-schema inference step.
    QuerySpec("q157_type_sniff", ((s, d) => {
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
      // Type sniff: same staged frame, anchored regexp_matches counts,
      // the ordered 95% verdict chain.
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
        |FROM a ORDER BY col_name""".stripMargin),

    // MAD (Hampel) outliers of document length per source — the
    // 50%-breakdown robust audit next to q108's quartile fences.
    QuerySpec("q156_mad_outliers", ((s, d) =>
      Profiler.madOutliers(Tables.documents(s, d), "source", col("n_chars"))
        .orderBy(col("source"))),
      // MAD outliers: two weighted-median rank walks over compacted
      // counts, fence 10·d > k·mad, k = 30 tenths.
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
        |GROUP BY 1, 2, 3 ORDER BY dv.source""".stripMargin),

    // Adjusted Rand Index between the lang and source partitions of
    // the corpus — chance-corrected purity, pure integer binomials.
    QuerySpec("q155_ari", ((s, d) =>
      Clustering.adjustedRandPpm(Tables.documents(s, d), "lang", "source")),
      // ARI: contingency cells, margin binomial T-sums in HUGEINT, the
      // doubled num2/den2 rational, sign-split // to ppm.
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
        |FROM g""".stripMargin),

    // CCNet-style perplexity thirds per language: q51's LM score,
    // distributed rank, head/middle/tail — the keep-head+middle gate.
    QuerySpec("q154_perplexity_buckets", ((s, d) =>
      Curation.perplexityBuckets(docsFanned(s, d), "doc_id", "text", "lang")
        .orderBy(col("lang"), col("rnk"))),
      // Perplexity buckets: the q51 score CTEs + per-lang ROW_NUMBER
      // over (score DESC, id ASC), thirds by 3*(rnk-1) // n.
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
         |FROM rk ORDER BY lang, rnk""".stripMargin),

    // Simplified silhouette over the labeled embeddings — the
    // cluster-quality headline (b−a)/max(a,b) in exact ppm.
    QuerySpec("q152_silhouette", ((s, d) =>
      Clustering.silhouettePpm(Tables.embeddings(s, d), "label", "embedding")
        .orderBy(col("label"))),
      // Silhouette: 1e3-quantized components, truncated centroid means,
      // squared distances, sign-split ppm ratio and per-label mean.
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
        |FROM sp GROUP BY label ORDER BY label""".stripMargin),

    // Gini diversity of the corpus' categorical spreads — the
    // log-free mixture-evenness headline next to q132's per-key skew.
    QuerySpec("q149_gini_diversity", ((s, d) =>
      Profiler.giniDiversityPpm(Tables.documents(s, d),
          Seq("lang", "source"))
        .orderBy(col("col_name"))),
      // Gini: per-column value counts, 1e6 - sum(cnt^2)*1e6 // n^2.
      """WITH u AS (SELECT 'lang' AS col_name, CAST(lang AS VARCHAR) AS v FROM documents
        |  UNION ALL SELECT 'source', CAST(source AS VARCHAR) FROM documents),
        |c AS (SELECT col_name, v, CAST(count(*) AS BIGINT) AS cnt FROM u GROUP BY 1, 2)
        |SELECT col_name, CAST(SUM(cnt) AS BIGINT) AS n_rows,
        |  CAST(count(*) AS BIGINT) AS n_values,
        |  CAST(1000000 - (SUM(CAST(cnt AS HUGEINT) * cnt) * 1000000)
        |    // (CAST(SUM(cnt) AS HUGEINT) * SUM(cnt)) AS BIGINT) AS gini_ppm
        |FROM c GROUP BY col_name ORDER BY col_name""".stripMargin),

    // Pairwise label-centroid similarity: quantized centroid dots and
    // squared norms per label pair — cos^2 readable as an exact
    // rational, no sqrt, corpus scanned once.
    QuerySpec("q146_centroid_sims", ((s, d) =>
      Clustering.groupCentroidSims(Tables.embeddings(s, d), "label",
          "embedding")
        .orderBy(col("g_a"), col("g_b"))),
      // Centroid sims: per-(label,pos) 1e3-quantized component sums,
      // pairwise dot by pos join, norms joined back.
      """WITH q AS (SELECT label, i AS pos,
        |    CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT)) AS BIGINT) AS s
        |  FROM embeddings, range(1, 65) r(i) GROUP BY 1, 2),
        |n2 AS (SELECT label, CAST(SUM(s * s) AS BIGINT) AS n2 FROM q GROUP BY 1),
        |d AS (SELECT a.label AS g_a, b.label AS g_b, CAST(SUM(a.s * b.s) AS BIGINT) AS dot
        |  FROM q a JOIN q b ON a.pos = b.pos AND a.label < b.label GROUP BY 1, 2)
        |SELECT d.g_a, d.g_b, d.dot, na.n2 AS n2_a, nb.n2 AS n2_b
        |FROM d JOIN n2 na ON na.label = d.g_a JOIN n2 nb ON nb.label = d.g_b
        |ORDER BY g_a, g_b""".stripMargin),

    // Source-level quality gate (CCNet/RefinedWeb): ppm-integer source
    // scores from per-doc alpha + stopword ratios; whole sources below
    // the bar drop, survivors keep their source's score.
    QuerySpec("q85_source_quality_gate", ((s, d) =>
      Curation.sourceQualityFilter(Tables.documents(s, d), "doc_id", "text",
          "source", minScorePpm = 440000L)
        .orderBy(col("doc_id"))),
      // Mirrors Curation.sourceQualityFilter (threshold 440000 ppm):
      // truncating integer arithmetic end-to-end, so the per-source mean
      // is layout-independent in both engines.
      {
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
      }),

    // Deterministic weighted systematic sampling: documents selected
    // proportional to token count (one expected pick per 1000 tokens of
    // stream), via the same two-pass distributed prefix sum as q61 —
    // no randomness, no single-partition window.
    QuerySpec("q75_weighted_sample", ((s, d) =>
      Curation.weightedSystematicSample(Tables.documents(s, d), "doc_id",
          size(TextFeatures.tokens(col("text"))).cast("long"), 1000L)
        .orderBy(col("doc_id"))),
      // Mirrors Curation.weightedSystematicSample (step 1000): inclusive
      // running token sum in doc_id order, select rows whose weight
      // interval crosses a step multiple, n_hits = crossings.
      """WITH c AS (SELECT doc_id,
        |    CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT) AS w
        |  FROM documents),
        |s AS (SELECT doc_id, w,
        |    CAST(SUM(w) OVER (ORDER BY doc_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cend
        |  FROM c WHERE w > 0)
        |SELECT doc_id, w AS weight, CAST(cend//1000 - (cend-w)//1000 AS BIGINT) AS n_hits
        |FROM s WHERE cend//1000 > (cend-w)//1000 ORDER BY doc_id""".stripMargin),

    // Distribution drift between per-language corpora: ppm-quantized
    // L1 distance of token-count histograms — the snapshot-vs-snapshot
    // drift monitor, all pairwise work on |groups|·|bins| rows.
    QuerySpec("q76_histogram_drift", ((s, d) =>
      Profiler.histogramDriftPpm(
          docsFanned(s, d).withColumn("__v",
            size(TextFeatures.tokens(col("text"))).cast("long")),
          "lang", col("__v"), 16L)
        .orderBy(col("g_a"), col("g_b"))),
      // Mirrors Profiler.histogramDriftPpm (binWidth 16): ppm shares per
      // (lang, bin), pooled bins per pair, absolute-difference sum.
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
        |GROUP BY 1, 2 ORDER BY g_a, g_b""".stripMargin),

    // Lloyd k-means (k=8, 2 iterations, first-k seeds): model state
    // broadcast into one codegen'd argmax projection per iteration;
    // quantized-long centroid updates are merge-order-exact.
    QuerySpec("q39_kmeans", ((s, d) =>
      Clustering.lloydAssign(
          Tables.embeddings(s, d).select(col("vec_id"), col("embedding")),
          "vec_id", "embedding", 8, 2)
        .select(col("vec_id"), col("cid").cast("long").as("cid"), col("cosine"))
        .orderBy(col("vec_id"))),
      // Two unrolled Lloyd iterations mirroring Clustering.lloydAssign:
      // first-8 seeds; assignment argmax by (cosine desc, cid asc);
      // centroid update = floor-quantized per-dim sums / (n·1e6), rounded
      // to FLOAT (`list(... ORDER BY i)` rebuilds the vector in dim order).
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
         |SELECT vec_id, cid, cosine FROM a2 ORDER BY vec_id""".stripMargin),

    // End-to-end curation: quality gate -> exact dedup -> near-dup
    // cluster representatives, composed from the engine's own operators.
    QuerySpec("q40_curation", ((s, d) =>
      Curation.curate(demoCorpus(Tables.documents(s, d)), "doc_id", "text")
        .select(col("doc_id"), TextFeatures.charHash(col("text")).as("fp"))
        .orderBy(col("doc_id"))),
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
         |ORDER BY doc_id""".stripMargin),

    // Deterministic train/val/test split (80/10/10 on the text#id hash).
    QuerySpec("q46_dataset_split", ((s, d) =>
      Curation.hashSplit(Tables.documents(s, d), "doc_id", "text")
        .select(col("doc_id"), col("bucket"), col("split"))
        .orderBy(col("doc_id"))),
      // Mirrors Curation.hashSplit: bucket = polyhash(text || '#' || id)
      // mod 100 (the hash is already non-negative), fixed 80/90 cuts.
      s"""SELECT doc_id,
         |  ${dh("text || '#' || CAST(doc_id AS VARCHAR)")} % 100 AS bucket,
         |  CASE WHEN ${dh("text || '#' || CAST(doc_id AS VARCHAR)")} % 100 < 80 THEN 'train'
         |       WHEN ${dh("text || '#' || CAST(doc_id AS VARCHAR)")} % 100 < 90 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM documents ORDER BY doc_id""".stripMargin),

    // Temperature-resampled (α = 1/2) language mixing weights + a
    // 1000-doc sampling budget allocation, ppm-quantized integers.
    QuerySpec("q52_mixture_weights", ((s, d) =>
      Curation.mixtureWeights(Tables.documents(s, d), "lang", 1000L)
        .orderBy(col("lang"))),
      // Mirrors Curation.mixtureWeights (α = 1/2, budget 1000): √n is
      // IEEE-correctly-rounded on both engines, floor-quantized BEFORE
      // the integer normalization.
      """WITH g AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1),
        |q AS (SELECT lang, n_docs,
        |    CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000) AS BIGINT) AS sq FROM g)
        |SELECT lang, n_docs,
        |  CAST(sq * 1000000 // SUM(sq) OVER () AS BIGINT) AS weight_ppm,
        |  CAST(sq * 1000 // SUM(sq) OVER () AS BIGINT) AS alloc
        |FROM q ORDER BY lang""".stripMargin),

    // Per-language discrete token-count quantiles (p50/p90/p99) by rank
    // arithmetic — integer-exact, no interpolation in the contract.
    QuerySpec("q56_quantile_profile", ((s, d) =>
      Profiler.discreteQuantiles(
          docsFanned(s, d).withColumn("__v",
            size(TextFeatures.tokens(col("text"))).cast("long")),
          "lang", col("__v"), Seq(50, 90, 99))
        .orderBy(col("lang"), col("pct"))),
      // Mirrors Profiler.discreteQuantiles: rank arithmetic
      // ceil(n·p/100) = (n·p + 99) // 100 under (value, doc_id) order —
      // the same row is chosen by both engines, no interpolation.
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
        |ORDER BY lang, pct""".stripMargin),

    // Mergeable histogram-sketch quantiles: the SCALE path next to
    // q56's exact quantiles — state is |occupied bins| per group (a
    // constant chosen up front), counters merge under any partitioning
    // or stream trigger, and the answer brackets the true quantile
    // within one bin.
    QuerySpec("q69_histogram_quantiles", ((s, d) =>
      Profiler.histogramQuantiles(
          docsFanned(s, d).withColumn("__v",
            size(TextFeatures.tokens(col("text"))).cast("long")),
          "lang", col("__v"), Seq(50, 90, 99), 16L)
        .orderBy(col("lang"), col("pct"))),
      // Mirrors Profiler.histogramQuantiles (binWidth 16): truncating
      // integer binning, cumulative-interval rank walk over bins.
      """WITH t AS (SELECT lang, CAST(len(list_filter(string_split(text,' '), x -> x <> '')) AS BIGINT) AS v FROM documents),
        |cells AS (SELECT lang, v // 16 AS bin, COUNT(*) AS cnt FROM t GROUP BY 1,2),
        |r AS (SELECT lang, bin, cnt,
        |   SUM(cnt) OVER (PARTITION BY lang ORDER BY bin ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |   SUM(cnt) OVER (PARTITION BY lang) AS n FROM cells)
        |SELECT lang, CAST(pct AS BIGINT) AS pct, CAST(bin*16 AS BIGINT) AS bin_lo, CAST(bin*16+15 AS BIGINT) AS bin_hi
        |FROM r CROSS JOIN (SELECT unnest([50,90,99]) AS pct) p
        |WHERE cum >= (n*pct+99)//100 AND cum - cnt < (n*pct+99)//100
        |ORDER BY lang, pct""".stripMargin),

    // Budget-driven mixture sampling: √-flattened per-language budgets
    // (q52's weights) pick how many docs, the hash-ordered head picks
    // which — the composed corpus-rebalancing step.
    QuerySpec("q59_mixture_sample", ((s, d) =>
      Curation.mixtureSample(Tables.documents(s, d), "lang", "doc_id",
          TextFeatures.charHash(col("text")), 200L)
        .orderBy(col("lang"), col("rnk"))),
      // Mirrors Curation.mixtureSample (budget 200): q52's integer
      // allocation per language, then the q38-style hash-ordered head of
      // exactly `alloc` docs per language.
      s"""WITH g AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1),
         |q AS (SELECT lang, CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000) AS BIGINT) AS sq FROM g),
         |a AS (SELECT lang, CAST(sq * 200 // SUM(sq) OVER () AS BIGINT) AS alloc FROM q),
         |h AS (SELECT lang, doc_id, ${dh("text")} AS hh FROM documents),
         |r AS (SELECT lang, doc_id,
         |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY hh ASC, doc_id ASC) AS rnk FROM h)
         |SELECT r.lang, r.doc_id, CAST(r.rnk AS BIGINT) AS rnk, a.alloc
         |FROM r JOIN a USING (lang) WHERE r.rnk <= a.alloc
         |ORDER BY lang, rnk""".stripMargin),

    // Lloyd assignment from deterministic farthest-point (k-center)
    // seeds: min-id vector first, then argmin-of-max-cosine rounds —
    // the spread-seeking seeding, exposed end-to-end (the q39 twin pins
    // the first-k-seeds path). k=3 so the oracle can unroll the rounds.
    QuerySpec("q48_kmeans_fps", ((s, d) => {
      val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val seeds = Clustering.farthestPointSeeds(e, "vec_id", "embedding", 3)
      Clustering.lloydAssignFrom(e, "vec_id", "embedding", seeds, 1)
        .select(col("vec_id"), col("cid").cast("long").as("cid"), col("cosine"))
        .orderBy(col("vec_id"))
    }),
      // Mirrors Clustering.farthestPointSeeds (k=3) + one lloydAssignFrom
      // pass, rounds unrolled: seed 1 = min vec_id; each next seed is the
      // argmin over remaining vectors of the max cosine to the chosen
      // seeds (ties -> lower id); assignment = argmax cosine with ties to
      // the lower centroid id. Cosine is the same left-to-right double
      // fold / (sqrt·sqrt) association as every other embedding oracle.
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
         |SELECT vec_id, cid, cosine FROM a WHERE rn = 1 ORDER BY vec_id""".stripMargin),

    // One-pass ANALYZE-style column profile of the orders table:
    // non-null count, exact NDV, lexicographic min/max of the canonical
    // string form — one scan, one tiny-key aggregate.
    QuerySpec("q90_column_profile", ((s, d) =>
      Profiler.columnProfile(Tables.orders(s, d),
          Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))
        .orderBy(col("col_name"))),
      // Mirrors Profiler.columnProfile over orders: canonical-string
      // values, count/NDV/lexicographic min-max per column.
      """WITH u AS (
        |  SELECT 'o_orderkey' AS col_name, CAST(o_orderkey AS VARCHAR) AS v FROM orders
        |  UNION ALL SELECT 'o_custkey', CAST(o_custkey AS VARCHAR) FROM orders
        |  UNION ALL SELECT 'o_orderstatus', o_orderstatus FROM orders
        |  UNION ALL SELECT 'o_orderpriority', o_orderpriority FROM orders)
        |SELECT col_name, count(v) AS n_nonnull, count(DISTINCT v) AS n_distinct,
        |  min(v) AS min_str, max(v) AS max_str
        |FROM u GROUP BY col_name ORDER BY col_name""".stripMargin),

    // Token-balanced contiguous shard assignment (8 shards) on the
    // shared two-pass prefix sum — reproducible "equal tokens per
    // output file" manifests, no single-partition window.
    QuerySpec("q94_shard_assign", ((s, d) =>
      Curation.assignShards(Tables.documents(s, d), "doc_id",
          size(TextFeatures.tokens(col("text"))).cast("long"), nShards = 8)
        .orderBy(col("doc_id"))),
      // Mirrors Curation.assignShards (8 shards): inclusive prefix sum in
      // doc order, shard = interval-start * 8 DIV total.
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
        |FROM s, t ORDER BY doc_id""".stripMargin),

    // Integer CDF calibration of per-language token counts: each
    // distinct length's strictly-below share in ppm — the
    // score-normalization step, compacted below the window (q56's
    // skew discipline).
    QuerySpec("q99_cdf_calibration", ((s, d) =>
      Profiler.cdfPpm(docsFanned(s, d), "lang",
          size(TextFeatures.tokens(col("text"))).cast("long"))
        .orderBy(col("lang"), col("v"))),
      // Integer CDF calibration: per-lang token-count distribution
      // compacted to (lang, v, cnt), strictly-below cumulative ppm.
      """WITH t AS (SELECT lang,
        |  CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS v
        |  FROM documents),
        |c AS (SELECT lang, v, count(*) AS cnt FROM t GROUP BY 1, 2),
        |n AS (SELECT lang, CAST(SUM(cnt) AS BIGINT) AS nn FROM c GROUP BY 1),
        |cum AS (SELECT lang, v, cnt,
        |  CAST(SUM(cnt) OVER (PARTITION BY lang ORDER BY v) AS BIGINT) AS cm FROM c)
        |SELECT lang, v, cnt, ((cm - cnt) * 1000000) // nn AS cdf_ppm
        |FROM cum JOIN n USING (lang) ORDER BY lang, v""".stripMargin),

    // Greedy max-cover selection of the 5 most trigram-diverse docs —
    // each round an anti-join + TakeOrdered argmax, ties to smaller id.
    QuerySpec("q107_max_cover", ((s, d) =>
      Curation.maxCoverSelect(Tables.documents(s, d), "doc_id", "text",
          rounds = 5, shingleN = 3)
        .orderBy(col("rnk"))),
      // 5 unrolled greedy max-cover rounds: gains over uncovered tokens,
      // argmax (gain DESC, doc_id ASC), covered set grows by the pick.
      {
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
      }),

    // Tukey fences on per-language token counts: division-free
    // tenths-scaled 1.5×IQR comparison over the q56-compacted frame.
    QuerySpec("q108_iqr_outliers", ((s, d) =>
      Profiler.iqrOutlierFences(docsFanned(s, d), "lang",
          size(TextFeatures.tokens(col("text"))).cast("long"))
        .orderBy(col("lang"))),
      // Tukey fences: quartiles by the same ceil(n·p/100) rank walk as
      // q56/q99, fences as the tenths-scaled division-free comparison.
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
        |ORDER BY c.lang""".stripMargin),

    // Per-dimension embedding moments at two quanta — the feature
    // normalization table, in row form.
    QuerySpec("q125_embedding_dim_stats", ((s, d) =>
      Profiler.embeddingDimStats(Tables.embeddings(s, d), "embedding")
        .orderBy(col("pos"))),
      // Dim stats: quantize at both grains inside the unnest, aggregate.
      """WITH f AS (SELECT CAST(i AS BIGINT) AS pos,
        |  CAST(floor(CAST(embedding[CAST(i AS INT)] AS DOUBLE)*1000000) AS BIGINT) AS q6,
        |  CAST(floor(CAST(embedding[CAST(i AS INT)] AS DOUBLE)*1000) AS BIGINT) AS q3
        | FROM embeddings, unnest(range(1, 65)) t(i))
        |SELECT pos, CAST(count(*) AS BIGINT) AS n, CAST(SUM(q6) AS BIGINT) AS sum_q6,
        |  CAST(SUM(q3*q3) AS BIGINT) AS sumsq_q3, MIN(q6) AS min_q6, MAX(q6) AS max_q6
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin),

    // Winsorize event values into each type's exact [p5, p95] band.
    QuerySpec("q126_winsorize", ((s, d) =>
      Profiler.winsorize(Tables.events(s, d), "event_type", "event_id",
          col("value"), 5, 95)
        .orderBy(col("event_type"), col("event_id"))),
      // Winsorize: the q56 rank arithmetic picks the fences, a broadcast
      // join clips; values ride untouched so doubles stay bit-exact.
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
        |FROM t JOIN f USING (event_type) ORDER BY event_type, event_id""".stripMargin),

    // Shuffle-key skew profile of the event stream's user_id: top-20
    // heavy hitters with corpus share and ratio-to-mean in exact ppm.
    QuerySpec("q132_key_skew", ((s, d) =>
      Profiler.keySkewProfile(Tables.events(s, d), col("user_id"), topK = 20)
        .orderBy(col("rnk"))),
      // Key skew: counts, 2-value totals row, rank over the top-20 only.
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
        |FROM top, t ORDER BY rnk""".stripMargin),

    // Functional-dependency audit source -> lang: every source whose
    // rows disagree on language, with the majority value and the
    // dissenting row count.
    QuerySpec("q135_fd_violations", ((s, d) =>
      Profiler.fdViolations(Tables.documents(s, d), col("source"), col("lang"))
        .orderBy(col("x"))),
      // FD audit: (x,y) counts, per-x totals, majority via the rn=1 row
      // of (cnt DESC, y ASC).
      """WITH c AS (SELECT CAST(source AS VARCHAR) AS x, CAST(lang AS VARCHAR) AS y,
        |    CAST(count(*) AS BIGINT) AS cnt FROM documents GROUP BY 1, 2),
        |a AS (SELECT x, CAST(SUM(cnt) AS BIGINT) AS n_rows,
        |    CAST(count(*) AS BIGINT) AS n_vals FROM c GROUP BY 1),
        |m AS (SELECT x, y AS majority_val, cnt AS mcnt,
        |    ROW_NUMBER() OVER (PARTITION BY x ORDER BY cnt DESC, y ASC) AS rn FROM c)
        |SELECT a.x, a.n_rows, a.n_vals, m.majority_val,
        |  CAST(a.n_rows - m.mcnt AS BIGINT) AS violation_rows
        |FROM a JOIN m ON a.x = m.x AND m.rn = 1
        |WHERE a.n_vals >= 2 ORDER BY a.x""".stripMargin),

    // Label-cohesion index over the embedding labels: mean pairwise
    // cosine per label without materializing pairs (and without sqrt),
    // 1e6 = perfectly aligned members.
    QuerySpec("q136_label_cohesion", ((s, d) =>
      Clustering.labelCohesionPpm(Tables.embeddings(s, d), "label",
          "embedding")
        .orderBy(col("label"))),
      // Cohesion: |sum v|^2 from per-(label,pos) component sums at the
      // 1e3 quantum, sum |v|^2 from per-row folds, HUGEINT only at ppm.
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
        |FROM rw JOIN comp USING (label) ORDER BY label""".stripMargin),

    // Corpus contract checks on docs plus metadata-rotted mutants
    // (every 5th doc re-truncated without refreshing n_chars, lang
    // upper-cased): one pass, violation counts per invariant.
    QuerySpec("q137_corpus_contract", ((s, d) => {
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
      // Contract checks: three invariant counters over the rotted union.
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
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin),

    // Quantile-normalize per-language token counts onto the global
    // 100-point grid (bin width 16, matching q69).
    QuerySpec("q128_quantile_normalize", ((s, d) =>
      Profiler.quantileNormalize(
          docsFanned(s, d).withColumn("__v",
            size(TextFeatures.tokens(col("text"))).cast("long")),
          "lang", "doc_id", col("__v"), 16L)
        .orderBy(col("lang"), col("doc_id"))),
      // Quantile normalization: inclusive per-group rank ppm over the
      // compacted counts, global 100-point histogram grid, clamped ceil.
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
        |ORDER BY lang, doc_id""".stripMargin),

    // Reproducibility digest of lineitem in 8 shards: commutative
    // count/xor/sum/min/max over the polynomial row hash.
    QuerySpec("q122_dataset_digest", ((s, d) =>
      Profiler.datasetDigest(Tables.lineitem(s, d),
          pmod(col("l_orderkey"), lit(8L)),
          Seq(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
            col("l_linenumber")))
        .orderBy(col("shard"))),
      // Digest: the same left-to-right polynomial fold, then the four
      // commutative aggregates — any row order gives these exact values.
      """WITH h AS (SELECT l_orderkey % 8 AS shard,
        |  (((((l_orderkey % 1000000007)*31 + (l_partkey % 1000000007)) % 1000000007)*31
        |     + (l_suppkey % 1000000007)) % 1000000007 * 31
        |     + (l_linenumber % 1000000007)) % 1000000007 AS rh
        |  FROM lineitem)
        |SELECT shard, CAST(count(*) AS BIGINT) AS n_rows, bit_xor(rh) AS xor_h,
        |  CAST(SUM(rh) AS BIGINT) AS sum_h, MIN(rh) AS min_h, MAX(rh) AS max_h
        |FROM h GROUP BY 1 ORDER BY 1""".stripMargin),

    // ROUGE-2 of each document's 60% prefix against the full text —
    // the snapshot-QA shape: precision ~1 (clip catches repeats),
    // recall ~ the retained share.
    QuerySpec("q213_rouge", ((s, d) => {
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
      // Mirrors EvalMetrics.rougeN(n=2) of the 60% prefix vs the full
      // text: clipped bigram-multiset overlap in exact ppm.
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
         |FROM fm ORDER BY pair_id""".stripMargin),

    // Leave-one-out target encoding of (returnflag, linestatus) against
    // quantity, collapsed to the distinct (key, v, loo) combinations so
    // the per-row join-back is exercised but the output stays readable.
    QuerySpec("q214_target_encode", ((s, d) =>
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
      // Mirrors Curation.targetEncodeLoo on (returnflag, linestatus) ×
      // quantity: (sum − v)·1000 div (n − 1), singleton NULL, collapsed
      // to distinct combinations (all values non-negative, so DuckDB's
      // flooring // equals Spark's truncating div).
      """WITH r AS (SELECT l_returnflag, l_linestatus, CAST(l_quantity AS BIGINT) AS v FROM lineitem),
        |s AS (SELECT l_returnflag, l_linestatus, SUM(v) AS sm, COUNT(*) AS n FROM r GROUP BY 1, 2)
        |SELECT r.l_returnflag, r.l_linestatus, r.v, CAST(n AS BIGINT) AS n,
        |  CAST(CASE WHEN n = 1 THEN NULL
        |       WHEN sm - v >= 0 THEN ((sm - v) * 1000) // (n - 1)
        |       ELSE -(((v - sm) * 1000) // (n - 1)) END AS BIGINT) AS loo_milli,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows
        |FROM r JOIN s USING (l_returnflag, l_linestatus)
        |GROUP BY 1, 2, 3, 4, 5 ORDER BY 1, 2, 3""".stripMargin),

    // l-diversity audit at l=10 over the (nation, segment) QI with the
    // account balance as the sensitive attribute — the homogeneity-
    // attack number k-anonymity (q172) cannot see.
    QuerySpec("q221_l_diversity", ((s, d) =>
      Profiler.lDiversityAudit(Tables.customer(s, d),
        Seq("c_nationkey", "c_mktsegment"), "c_acctbal", 10L)),
      // Mirrors Profiler.lDiversityAudit: QI class sizes + exact distinct
      // sensitive values per class, below-l rollup.
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
        |FROM g""".stripMargin),

    // t-closeness audit at t=0.25 over the (nation, segment) QI with
    // cent-quantized account balance as the sensitive attribute —
    // the skewness attack l-diversity (q221) cannot see: exact ordinal
    // EMD class-vs-global on equal-width bins.
    QuerySpec("q224_t_closeness", ((s, d) =>
      Profiler.tClosenessAudit(Tables.customer(s, d),
        Seq("c_nationkey", "c_mktsegment"),
        expr("floor(c_acctbal * 100)"), 50000L, 250000L)),
      // Mirrors Profiler.tClosenessAudit: equal-width sign-split bins,
      // densified class×bin grid, exact integer EMD vs the global
      // distribution, above-t rollup.
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
        |FROM emd""".stripMargin),

    // Pairwise two-sample KS over doc-length distributions by source —
    // the binning-free drift test next to q76's histogram L1; exact
    // integer max-CDF-gap on the compacted value domain.
    QuerySpec("q231_ks_drift", ((s, d) =>
      Profiler.ksStatPpm(Tables.documents(s, d), "source", col("n_chars"))
        .orderBy(col("g_a"), col("g_b"))),
      // Mirrors Profiler.ksStatPpm: pooled distinct values per pair,
      // cum windows, D = max |cumA·nB − cumB·nA|, one floor division.
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
        |FROM d ORDER BY g_a, g_b""".stripMargin),

    // q231's bounded-state tier: the same pairwise KS read off X178
    // qsketch cells — per-pair windows walk ≤ ~1k cells, never the
    // pooled distinct values (the 100-TB continuous-column path).
    QuerySpec("q232_ks_cells", ((s, d) =>
      Profiler.ksStatFromCells(
          Sketches.qsketchCells(
            Tables.documents(s, d).select(col("source").as("grp"),
              col("n_chars").cast("long").as("v")),
            "grp", col("v"), subBits = 4),
          "grp")
        .orderBy(col("g_a"), col("g_b"))),
      // Mirrors Profiler.ksStatFromCells over the same qsketch cell
      // build as q209 (subBits=4, grouped by source on n_chars): pooled
      // distinct CELLS per pair, cum windows in (e, m) order, the q231
      // cross-multiplied max gap.
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
         |FROM d ORDER BY g_a, g_b""".stripMargin),

    // q76's bounded-state tier: pairwise L1 on the qsketch cell shares
    // — log-linear cells hold relative width <= 1/16 across the whole
    // range where fixed-width bins must pick a scale.
    QuerySpec("q233_drift_cells", ((s, d) =>
      Profiler.driftFromCells(
          Sketches.qsketchCells(
            Tables.documents(s, d).select(col("source").as("grp"),
              col("n_chars").cast("long").as("v")),
            "grp", col("v"), subBits = 4),
          "grp")
        .orderBy(col("g_a"), col("g_b"))),
      // Mirrors Profiler.driftFromCells: per-cell floor-div shares over
      // the same cells, pooled per pair, L1 of the share gaps (q76's
      // spelling on the log-linear grid).
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
         |GROUP BY 1, 2 ORDER BY g_a, g_b""".stripMargin),

    // X203 rank AUC on the same qsketch cells as q232: directional
    // effect size P(len_a > len_b) in ppm, ties half-weighted.
    QuerySpec("q238_auc_cells", ((s, d) =>
      Profiler.aucFromCells(
          Sketches.qsketchCells(
            Tables.documents(s, d).select(col("source").as("grp"),
              col("n_chars").cast("long").as("v")),
            "grp", col("v"), subBits = 4),
          "grp")
        .orderBy(col("g_a"), col("g_b"))),
      // Mirrors Profiler.aucFromCells: doubled-U fold over the pooled
      // cells, ties half-weighted via 2·cumB − cb.
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
         |ORDER BY g_a, g_b""".stripMargin),

    // X204 two-sample chi-square on the same cells: the homogeneity
    // statistic (x1000) + dof, completing the drift panel.
    QuerySpec("q239_chi2_cells", ((s, d) =>
      Profiler.chi2FromCells(
          Sketches.qsketchCells(
            Tables.documents(s, d).select(col("source").as("grp"),
              col("n_chars").cast("long").as("v")),
            "grp", col("v"), subBits = 4),
          "grp")
        .orderBy(col("g_a"), col("g_b"))),
      // Mirrors Profiler.chi2FromCells: per-cell (ca·nb − cb·na)² floor-
      // divided by the pooled cell mass, then the x1000 two-step fold.
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
         |FROM s ORDER BY g_a, g_b""".stripMargin),

    // X205 retrieval eval: per event_type, the type's top-20
    // users-by-activity as the ranking, high-value events (value>=80)
    // as the ground truth — MRR / P@10 / R@10 / MAP@10 in exact ppm.
    QuerySpec("q240_retrieval_eval", ((s, d) => {
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
      // Mirrors EvalMetrics.retrievalMetrics over the activity ranking:
      // per-hit precision floors first, the AP mean floors second.
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
        |ORDER BY event_type""".stripMargin),

    // X208 NDCG@10 on the q240 ranking with graded relevance (capped
    // count of high-value events) — the pinned-discount-table integers.
    QuerySpec("q243_ndcg", ((s, d) => {
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
      // Mirrors EvalMetrics.ndcgAtK: the SAME pinned discount integers
      // (ndcgDiscount inlined as literals — no engine float math), gains
      // (1 << g) - 1, ideal ranking via row_number over grade desc (equal
      // grades interchange, so the arbitrary tie order is value-exact).
      {
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
      }),

    // X207 hash-Poisson bootstrap: deterministic 50-replicate error
    // bars on each source's mean doc length, floor-ppm integers.
    QuerySpec("q242_bootstrap_ci", ((s, d) =>
      Profiler.bootstrapCi(Tables.documents(s, d), "source",
          col("doc_id"), col("n_chars"), reps = 50)
        .orderBy(col("source"))),
      // Mirrors Profiler.bootstrapCi: the polyhash of id#rep cut against
      // the exact integer Poisson(1) CDF thresholds, floor-ppm replicate
      // means, [ceil(0.05R), ceil(0.95R)] rank picks.
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
         |ORDER BY source""".stripMargin),

    // X209 priority sampling: top-8 docs per source by hash-priority
    // w·M div (h+1), survivors carry the max(w, τ) unbiased estimate.
    QuerySpec("q244_priority_sample", ((s, d) =>
      Curation.prioritySample(Tables.documents(s, d), "source",
          col("doc_id"), col("n_chars"), k = 8)
        .orderBy(col("source"), col("id"))),
      // Mirrors Curation.prioritySample (k=8): p = w·(1e9+7) // (h+1),
      // top-8 per source by (p DESC, id ASC), est = max(w, 9th priority).
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
         |ORDER BY source, id""".stripMargin),

    // X211 group ablation: leave-one-source-out corpus mean deltas on
    // doc length — "dropping source S moves the corpus mean by δ".
    QuerySpec("q245_source_ablation", ((s, d) =>
      Curation.ablateGroups(Tables.documents(s, d), "source",
          col("n_chars"))
        .orderBy(col("source"))),
      // Mirrors Curation.ablateGroups on doc length: one (sum, count)
      // per source, the global fold attached, floor // everywhere
      // (values are positive, so // IS the sign-split floor).
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
        |FROM per, tot ORDER BY source""".stripMargin),

    // X210 entropy secret scan over an md5-augmented corpus (the base
    // fixture has no ≥16-char tokens): each doc gains one hex blob
    // (flagged, H ≈ 3.7-4.0 bits) and every 5th doc one 'aaaa…' run
    // (candidate, never flagged) — both sides derive the augmentation
    // from the same parquet.
    QuerySpec("q246_entropy_scan", ((s, d) =>
      Profiler.entropyScan(
          Tables.documents(s, d).select(col("doc_id"),
            concat(col("text"), lit(" "), md5(col("text")),
              when(col("doc_id") % 5 === 0, lit(" aaaaaaaaaaaaaaaaaaaa"))
                .otherwise(lit(""))).as("text")),
          "doc_id", "text")
        .orderBy(col("doc_id"))),
      // Mirrors Profiler.entropyScan over the md5-augmented corpus: the
      // pinned ⌊log₂·10⁶⌋ table is inlined as literals (X208 discipline),
      // H_ppm = (Σ c·(L[n]−L[c])) // n over printable-ASCII tokens ≥ 16.
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
         |FROM h GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // X212 Wasserstein-1 on the same qsketch cells as q232: the panel
    // member with units — how far the length mass travelled, in chars
    // x1000 (area between the cell-censored CDFs).
    QuerySpec("q247_w1_cells", ((s, d) =>
      Profiler.wassersteinFromCells(
          Sketches.qsketchCells(
            Tables.documents(s, d).select(col("source").as("grp"),
              col("n_chars").cast("long").as("v")),
            "grp", col("v"), subBits = 4),
          "grp")
        .orderBy(col("g_a"), col("g_b"))),
      // Mirrors Profiler.wassersteinFromCells: gap to the next pooled
      // cell's lower bound x the |cumA·nb − cumB·na| CDF gap, then the
      // x1000 floor lift over na·nb.
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
         |FROM s ORDER BY g_a, g_b""".stripMargin),

    // X213 Pareto skyline of parts: maximize size AND retail price —
    // the undominated quality/cost frontier; floor(price*100) is the
    // IEEE-pinned integerization (DuckDB CAST rounds, so floor first).
    QuerySpec("q248_skyline", ((s, d) =>
      Curation.skyline2D(Tables.part(s, d), "p_partkey",
          col("p_size"), floor(col("p_retailprice") * 100).cast("long"))
        .orderBy(col("p_partkey"))),
      // Mirrors Curation.skyline2D by the definition: NOT EXISTS a
      // dominating row (>= both, > somewhere). n^2 is fine at oracle SF.
      """WITH pts AS (SELECT p_partkey, CAST(p_size AS BIGINT) AS x,
        |    CAST(floor(p_retailprice * 100) AS BIGINT) AS y FROM part)
        |SELECT p.p_partkey, p.x, p.y FROM pts p WHERE NOT EXISTS (
        |  SELECT 1 FROM pts q
        |  WHERE q.x >= p.x AND q.y >= p.y AND (q.x > p.x OR q.y > p.y))
        |ORDER BY p_partkey""".stripMargin),

    // X214 grid-density clustering of the embedding map's first two
    // dims: 1/32-wide cells, dense at >=4 points, 8-adjacent dense
    // cells merge (7 modes + noise at this grain); sparse-cell points
    // read noise (-1).
    QuerySpec("q249_grid_density", ((s, d) =>
      Clustering.gridDensityClusters(Tables.embeddings(s, d), "vec_id",
          element_at(col("embedding"), 1), element_at(col("embedding"), 2),
          invCell = 32, minPts = 4L)
        .orderBy(col("vec_id"))),
      // Mirrors Clustering.gridDensityClusters: same exact-IEEE cell
      // grid, min-label fixpoint over 8-adjacent dense cells via the
      // recursive CTE, sparse points coalesce to -1.
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
        |ORDER BY vec_id""".stripMargin),

    // WHERE the distribution moved: pairwise p50/p90/p99 shifts read
    // off the same cells (true quantile inside the reported cell).
    QuerySpec("q234_qshift_cells", ((s, d) =>
      Profiler.quantileShiftFromCells(
          Sketches.qsketchCells(
            Tables.documents(s, d).select(col("source").as("grp"),
              col("n_chars").cast("long").as("v")),
            "grp", col("v"), subBits = 4),
          "grp", Seq(50, 90, 99), subBits = 4)
        .orderBy(col("g_a"), col("g_b"), col("pct"))),
      // Mirrors Profiler.quantileShiftFromCells: q210's cell-grid
      // quantile read per source, then the pairwise est_b - est_a.
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
         |ORDER BY g_a, g_b, a.pct""".stripMargin),

    // Reshard-stability: what growing 7→8 shards costs under HRW
    // (expected ~1/8 of rows move; hash-mod would move ~6/7) — one
    // fold, zero shuffle.
    QuerySpec("q228_reshard_stability", ((s, d) =>
      Curation.reshardStability(Tables.orders(s, d), col("o_orderkey"), 7, 8)),
      // Mirrors Curation.reshardStability: HRW argmax per shard count,
      // moved fraction floor-ppm.
      s"""SELECT CAST(7 AS BIGINT) AS from_shards, CAST(8 AS BIGINT) AS to_shards,
         |  CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(SUM(CASE WHEN a <> b THEN 1 ELSE 0 END) AS BIGINT) AS n_moved,
         |  CAST(CASE WHEN count(*) = 0 THEN 0
         |       ELSE SUM(CASE WHEN a <> b THEN 1 ELSE 0 END) * 1000000 // count(*)
         |       END AS BIGINT) AS moved_ppm
         |FROM (SELECT ${hrwSql("(o_orderkey::VARCHAR)", 7)} AS a,
         |             ${hrwSql("(o_orderkey::VARCHAR)", 8)} AS b FROM orders)""".stripMargin),

    // Krippendorff's alpha over each user's first 8 event types (the
    // multi-rater agreement gate; cap = the documented maxRaters
    // contract, (ts, event_id) total order so the sample is stable).
    QuerySpec("q226_krippendorff", ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val capped = Tables.events(s, d)
        .withColumn("__rn", row_number().over(
          Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))))
        .filter(col("__rn") <= 8)
      EvalMetrics.krippendorffAlphaPpm(capped, "user_id", "event_type")
    }),
      // Mirrors EvalMetrics.krippendorffAlphaPpm (L = lcm(1..11) = 27720):
      // per-unit disagreement scaled through L exactly, one truncating
      // division, units with >= 2 ratings only.
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
        |FROM f CROSS JOIN mg""".stripMargin),
  )
}
