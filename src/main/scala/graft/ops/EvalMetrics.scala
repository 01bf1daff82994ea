package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Classifier-evaluation metrics over corpus signals — the QA surface
  * a data pipeline runs on its OWN heuristics (quality scores, lang-id,
  * filters) before trusting them to gate training data: ranking power
  * (AUC), probability honesty (calibration bins), operating-point
  * choice (threshold sweep), and rater agreement (Cohen's kappa).
  * Reference has no counterpart (beyond-reference, SURVEY §7.6).
  *
  * Shared discipline: every statistic is an exact integer rational in
  * ppm (floor DIV, sign-split where signed) so Spark ≡ DuckDB
  * bit-for-bit; every rank/cumulative window runs on the q56-compacted
  * (group, score) domain — |distinct scores| rows, never raw volume —
  * and everything else is a map-side-combinable aggregate on a tiny
  * key. No driver state, no row-volume windows, no cross joins.
  */
object EvalMetrics {

  /** X153: group AUC — the Mann-Whitney ranking statistic in exact
    * ppm: the probability a random positive outranks a random
    * negative, ties at half weight. The one-number answer to "does
    * this score actually separate the classes?", per group.
    *
    * Rank identity on doubled average ranks (r2 = 2·cum − c + 1 over
    * the compacted score domain, positives-at-score riding the same
    * row): AUC = (Σp·r2 − npos·(npos+1)) div (2·npos·nneg) — no
    * per-row ranks, no pair join (a pairwise count would be
    * npos·nneg ∝ |rows|²). Degenerate groups (one class only) read 0.
    *
    * @return (group, n_pos, n_neg, auc_ppm)
    */
  def aucPpm(df: DataFrame, groupCol: String, scoreExpr: Column,
             labelExpr: Column): DataFrame = {
    val base = df.select(col(groupCol).as("__g"),
      scoreExpr.cast("long").as("__s"),
      (labelExpr.cast("long") =!= 0L).cast("long").as("__l"))
    val wCum = Window.partitionBy("__g").orderBy(col("__s"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base.groupBy(col("__g"), col("__s"))
      .agg(count(lit(1)).as("__c"), sum(col("__l")).as("__p"))
      .withColumn("__cum", sum(col("__c")).over(wCum))
      .select(col("__g"), col("__p"), col("__c"),
        (lit(2L) * col("__cum") - col("__c") + 1L).as("__r2"))
      .groupBy(col("__g"))
      .agg(sum(col("__p")).as("n_pos"),
        sum(col("__c") - col("__p")).as("n_neg"),
        sum(col("__p") * col("__r2")).as("__rp"))
      .select(col("__g").as(groupCol), col("n_pos"), col("n_neg"),
        when(col("n_pos") === 0 || col("n_neg") === 0, lit(0L))
          .otherwise(expr(
            """((cast(__rp as decimal(38,0))
              |  - cast(n_pos as decimal(38,0)) * (n_pos + 1)) * 1000000)
              | div (cast(n_pos as decimal(38,0)) * n_neg * 2)""".stripMargin)
            .cast("long")).as("auc_ppm"))
  }

  /** X154: calibration bins — the reliability diagram as data: does a
    * score that SAYS 800000 ppm actually hit 80%? Scores (already in
    * [0, 10⁶] ppm) bucket into `bins` equal cells; each cell reports
    * its empirical positive rate next to its mean claimed score, and
    * the signed gap between them (positive = under-confident). ONE
    * map-side-combinable aggregate on the bin key. Scores outside the
    * ppm domain still bin deterministically: the bin and the mean use
    * the sign-split FLOOR division, so a negative score lands in a
    * negative bin in Spark exactly as DuckDB's flooring `//` places it
    * — no cross-engine divergence outside [0, 10⁶].
    *
    * @return (bin, n, mean_score_ppm, pos_rate_ppm, gap_ppm)
    */
  def calibrationBins(df: DataFrame, scoreExpr: Column, labelExpr: Column,
                      bins: Int): DataFrame = {
    require(bins >= 1, s"non-positive bin count: $bins")
    df.select(scoreExpr.cast("long").as("__s"),
        (labelExpr.cast("long") =!= 0L).cast("long").as("__l"))
      .select(least(lit(bins - 1L), expr(
        s"""CASE WHEN __s >= 0 THEN (__s * $bins) div 1000000
           |ELSE -(((-__s) * $bins + 999999) div 1000000) END""".stripMargin))
        .as("bin"), col("__s"), col("__l"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("__s")).as("__ss"),
        sum(col("__l")).as("__sl"))
      .select(col("bin"), col("n"),
        expr("""CASE WHEN __ss >= 0 THEN __ss div n
               |ELSE -(((-__ss) + n - 1) div n) END""".stripMargin)
          .as("mean_score_ppm"),
        expr("(__sl * 1000000) div n").as("pos_rate_ppm"))
      .withColumn("gap_ppm", col("pos_rate_ppm") - col("mean_score_ppm"))
  }

  /** X155: threshold sweep — precision/recall/F1 at EVERY distinct
    * score cut (predict positive iff score ≥ t) in one pass: the
    * operating-point table behind "where do we set the quality gate?".
    * Counts come from a descending cumulative over the compacted score
    * domain (|distinct scores| rows), so the sweep costs one
    * aggregation regardless of row volume — never one query per
    * candidate threshold. The global window IS single-partition, and
    * deliberately so: its input is ≤ |distinct scores| rows, and for a
    * ppm-valued score that is ≤ 10⁶+1 rows by construction — the same
    * bounded-window contract as X33's mixture weights.
    *
    * @return (threshold, tp, fp, fn, precision_ppm, recall_ppm,
    *         f1_ppm), one row per distinct score
    */
  def thresholdSweep(df: DataFrame, scoreExpr: Column,
                     labelExpr: Column): DataFrame = {
    val wDesc = Window.orderBy(col("__s").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy()
    df.select(scoreExpr.cast("long").as("__s"),
        (labelExpr.cast("long") =!= 0L).cast("long").as("__l"))
      .groupBy(col("__s"))
      .agg(count(lit(1)).as("__c"), sum(col("__l")).as("__p"))
      .withColumn("tp", sum(col("__p")).over(wDesc))
      .withColumn("__cumtot", sum(col("__c")).over(wDesc))
      .withColumn("__npos", sum(col("__p")).over(wAll))
      .select(col("__s").as("threshold"), col("tp"),
        (col("__cumtot") - col("tp")).as("fp"),
        (col("__npos") - col("tp")).as("fn"))
      .select(col("threshold"), col("tp"), col("fp"), col("fn"),
        expr("(tp * 1000000) div (tp + fp)").as("precision_ppm"),
        when(col("tp") + col("fn") === 0, lit(0L))
          .otherwise(expr("(tp * 1000000) div (tp + fn)")).as("recall_ppm"),
        when(lit(2L) * col("tp") + col("fp") + col("fn") === 0, lit(0L))
          .otherwise(expr("(2 * tp * 1000000) div (2 * tp + fp + fn)"))
          .as("f1_ppm"))
  }

  /** X165: expected calibration error — [[calibrationBins]] rolled to
    * the one number a dashboard tracks: the occupancy-weighted mean
    * absolute claimed-vs-empirical gap, ECE = Σ n_b·|gap_b| div n,
    * plus the maximum cell gap (MCE). Computed from the bins' already-
    * floored ppm gaps — deterministic and oracle-mirrored, and the
    * same numbers a reader sees in the per-bin table, so the rollup
    * can never disagree with its own detail.
    *
    * @return one row (n, n_bins, ece_ppm, max_gap_ppm)
    */
  def ecePpm(df: DataFrame, scoreExpr: Column, labelExpr: Column,
             bins: Int): DataFrame =
    calibrationBins(df, scoreExpr, labelExpr, bins)
      .agg(sum(col("n")).as("n"), count(lit(1)).as("n_bins"),
        sum(col("n") * abs(col("gap_ppm"))).as("__w"),
        max(abs(col("gap_ppm"))).as("max_gap_ppm"))
      .select(col("n"), col("n_bins"),
        expr("__w div n").as("ece_ppm"), col("max_gap_ppm"))

  /** X168: isotonic calibration — the calibration FIX next to the
    * measurements (X154 bins, X165 ECE): the monotone-nondecreasing
    * mapping score-bin → probability that minimizes weighted squared
    * error, i.e. binned PAVA (pool adjacent violators), computed here
    * through the minimax identity instead of the sequential pooling
    * loop:
    *
    *   fitted_i = max_{k≤i} min_{j≥i} rate(k..j),
    *   rate(k..j) = pooled positives(k..j)·10⁶ div pooled n(k..j)
    *
    * — a closed form over prefix sums, so the whole fit is three
    * bounded joins over ≤ `bins`³ literal-sized rows (10⁶ at the
    * enforced bins ≤ 100), never a driver loop and never a pass over
    * row volume: the corpus is read ONCE into the ≤`bins`-cell
    * histogram. Rates floor to ppm BEFORE the minimax (mirrored by
    * the oracle), so Spark ≡ DuckDB bit-for-bit.
    *
    * @return (bin, n, pos_rate_ppm, fitted_ppm) with fitted_ppm
    *         monotone non-decreasing in bin
    */
  def isotonicCalibrationPpm(df: DataFrame, scoreExpr: Column,
                             labelExpr: Column, bins: Int): DataFrame = {
    require(bins >= 1 && bins <= 100,
      s"bins out of [1, 100] (the fit joins bins^3 rows): $bins")
    val pre = df.select(scoreExpr.cast("long").as("__s"),
        (labelExpr.cast("long") =!= 0L).cast("long").as("__l"))
      .select(least(lit(bins - 1L), expr(s"(__s * $bins) div 1000000"))
        .as("bin"), col("__l"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("__l")).as("__p"))
      .withColumn("__W", sum(col("n")).over(
        Window.orderBy("bin").rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
      .withColumn("__S", sum(col("__p")).over(
        Window.orderBy("bin").rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
      .localCheckpoint(eager = false) // read three times below
    val k = pre.select(col("bin").as("__k"),
      (col("__W") - col("n")).as("__Wk"), (col("__S") - col("__p")).as("__Sk"))
    val j = pre.select(col("bin").as("__j"), col("__W").as("__Wj"),
      col("__S").as("__Sj"))
    val pairs = k.join(j, col("__k") <= col("__j"))
      .select(col("__k"), col("__j"),
        expr("((__Sj - __Sk) * 1000000) div (__Wj - __Wk)").as("__rate"))
    val fitted = pre.select(col("bin"))
      .join(pairs, col("__k") <= col("bin") && col("__j") >= col("bin"))
      .groupBy(col("bin"), col("__k")).agg(min(col("__rate")).as("__inner"))
      .groupBy(col("bin")).agg(max(col("__inner")).as("fitted_ppm"))
    pre.select(col("bin"), col("n"),
        expr("(__p * 1000000) div n").as("pos_rate_ppm"))
      .join(fitted, Seq("bin"))
  }

  /** X160: Brier score — the proper scoring rule that calibration bins
    * (X154) visualize and AUC (X153) ignores: mean squared gap between
    * the claimed probability (ppm score) and the outcome, per group. A
    * score can rank perfectly (AUC 10⁶) and still lie about its
    * probabilities; Brier bills for it. Exact integers: with s in ppm
    * and y ∈ {0,1}, brier_ppm = Σ(s − y·10⁶)² div (n·10⁶) ∈ [0, 10⁶]
    * (0 = perfectly sharp and honest). ONE map-side-combinable moment
    * aggregate; squares run in DECIMAL(38,0) — exact to 10¹⁹ rows per
    * group.
    *
    * @return (group, n, brier_ppm)
    */
  def brierPpm(df: DataFrame, groupCol: String, scoreExpr: Column,
               labelExpr: Column): DataFrame = {
    df.select(col(groupCol),
        scoreExpr.cast("long").as("__s"),
        (labelExpr.cast("long") =!= 0L).cast("long").as("__l"))
      .select(col(groupCol),
        (col("__s") - col("__l") * 1000000L).as("__d"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(expr("cast(__d as decimal(38,0)) * __d")).as("__sq"))
      .select(col(groupCol), col("n"),
        expr("__sq div (cast(n as decimal(38,0)) * 1000000)")
          .cast("long").as("brier_ppm"))
  }

  /** X161: per-class precision/recall/F1 — the multi-class report card
    * over a (predicted, truth) labeling, one row per class in the
    * union of both sides: tp = diagonal cell, fp = predicted-margin
    * remainder, fn = truth-margin remainder. The readable sibling of
    * the raw confusion matrix (q95) and the multi-class counterpart of
    * the binary sweep (X155). Row volume collapses once onto the
    * ≤|labels|² contingency key; margins are |labels|-row folds joined
    * full-outer so a class present on only one side still reports
    * (recall 0 when never predicted, precision 0 when never true).
    *
    * @return (label, tp, fp, fn, precision_ppm, recall_ppm, f1_ppm)
    */
  def perClassPrf(df: DataFrame, predCol: Column,
                  truthCol: Column): DataFrame = {
    val cont = df.select(predCol.cast("string").as("__p"),
        truthCol.cast("string").as("__t"))
      .groupBy(col("__p"), col("__t")).agg(count(lit(1)).as("__c"))
      .localCheckpoint(eager = false) // forked: diag + two margins
    val predM = cont.groupBy(col("__p")).agg(sum(col("__c")).as("__np"))
    val truthM = cont.groupBy(col("__t")).agg(sum(col("__c")).as("__nt"))
    val diag = cont.filter(col("__p") === col("__t"))
      .select(col("__p").as("label"), col("__c").as("tp"))
    predM.select(col("__p").as("label"), col("__np"))
      .join(truthM.select(col("__t").as("label"), col("__nt")),
        Seq("label"), "full_outer")
      .join(diag, Seq("label"), "left")
      .select(col("label"),
        coalesce(col("tp"), lit(0L)).as("tp"),
        (coalesce(col("__np"), lit(0L)) - coalesce(col("tp"), lit(0L)))
          .as("fp"),
        (coalesce(col("__nt"), lit(0L)) - coalesce(col("tp"), lit(0L)))
          .as("fn"))
      .select(col("label"), col("tp"), col("fp"), col("fn"),
        when(col("tp") + col("fp") === 0, lit(0L))
          .otherwise(expr("(tp * 1000000) div (tp + fp)"))
          .as("precision_ppm"),
        when(col("tp") + col("fn") === 0, lit(0L))
          .otherwise(expr("(tp * 1000000) div (tp + fn)"))
          .as("recall_ppm"),
        when(lit(2L) * col("tp") + col("fp") + col("fn") === 0, lit(0L))
          .otherwise(expr("(2 * tp * 1000000) div (2 * tp + fp + fn)"))
          .as("f1_ppm"))
  }

  /** X156: Cohen's kappa — chance-corrected agreement between two
    * labelings (Cohen 1960), multi-class: the lang-id-vs-metadata or
    * annotator-vs-annotator honesty check next to X128's ARI (which
    * compares PARTITIONS; kappa compares labelings that share a label
    * vocabulary). Exact rational, n² arithmetic in DECIMAL(38,0):
    *
    *   kappa = (n·diag − Σ_k rowₖ·colₖ) div (n² − Σ_k rowₖ·colₖ)
    *
    * — the ppm-rounded po/pe are REPORTED but kappa divides the exact
    * integers, never the rounded ratios. Sign-split floor DIV (kappa
    * is negative under worse-than-chance agreement); a degenerate
    * table (pe = 1: both raters constant) reads 0.
    *
    * Shape: row volume collapses once onto the (a, b) contingency key
    * (map-side combinable, ≤ |labels|² cells); margins and the pe sum
    * are |labels|-row folds.
    *
    * @return one row (n_items, po_ppm, pe_ppm, kappa_ppm)
    */
  def cohensKappaPpm(df: DataFrame, raterA: Column,
                     raterB: Column): DataFrame = {
    val cont = df.select(raterA.cast("string").as("__a"),
        raterB.cast("string").as("__b"))
      .groupBy(col("__a"), col("__b")).agg(count(lit(1)).as("__c"))
      .localCheckpoint(eager = false) // forked: totals + two margins
    val tot = cont.agg(sum(col("__c")).as("n_items"),
      sum(when(col("__a") === col("__b"), col("__c")).otherwise(0L))
        .as("__diag"))
    val pe = cont.groupBy(col("__a")).agg(sum(col("__c")).as("__ra"))
      .join(cont.groupBy(col("__b")).agg(sum(col("__c")).as("__rb")),
        col("__a") === col("__b"))
      .agg(coalesce(sum(expr("cast(__ra as decimal(38,0)) * __rb")),
        lit(0L).cast("decimal(38,0)")).as("__pe"))
    tot.crossJoin(pe)
      .withColumn("__num",
        expr("cast(n_items as decimal(38,0)) * __diag - __pe"))
      .withColumn("__den",
        expr("cast(n_items as decimal(38,0)) * n_items - __pe"))
      .select(col("n_items"),
        when(col("n_items") === 0, lit(0L))
          .otherwise(expr("(__diag * 1000000) div n_items")).as("po_ppm"),
        when(col("n_items") === 0, lit(0L))
          .otherwise(expr(
            "(__pe * 1000000) div (cast(n_items as decimal(38,0)) * n_items)")
            .cast("long")).as("pe_ppm"),
        when(col("__den") === 0, lit(0L))
          .otherwise(expr(
            """case when __num >= 0 then (__num * 1000000) div __den
              | else -(((-__num) * 1000000) div __den) end""".stripMargin)
            .cast("long")).as("kappa_ppm"))
  }

  /** X180: ROUGE-N (Lin, ACL-W 2004) — the clipped n-gram overlap that
    * scores a candidate text against its reference per pair: recall is
    * Σ_g min(count_cand(g), count_ref(g)) over the reference's gram
    * occurrences (the original ROUGE), precision the same numerator
    * over the candidate's, F1 their harmonic mean — all exact ppm
    * rationals. The pipeline use is summarization/extraction QA at
    * corpus scale: a snapshot-diff or scrub pass emits (old, new)
    * pairs, and ROUGE says how much survived. Multiset semantics (the
    * "clip") matter: a candidate repeating one reference gram 50×
    * scores 50/|ref| on a bag-union spelling but min(50, c_ref) here.
    *
    * Shape: the pair frame's tokenization is materialized ONCE and
    * forks into the two side-tagged gram streams (fixed-width hashes
    * ride, never gram text — a collision merges grams identically on
    * both engines, dedup-family convention); occurrence counts are one
    * map-side-combinable aggregate on (pair, side, gram); totals and
    * the clipped intersection are two folds off that frame, joined
    * back on the pair key. Shuffle ∝ token occurrences, no pair×gram
    * blowup, no driver state. Pairs with under n tokens on either
    * side are absent by contract (their gram bag is undefined).
    *
    * @return (pair_id, cand_grams, ref_grams, hit_grams,
    *         precision_ppm, recall_ppm, f1_ppm)
    */
  def rougeN(pairs: DataFrame, idCol: String, candCol: String,
             refCol: String, n: Int): DataFrame = {
    require(n >= 1, s"ROUGE gram size must be positive: $n")
    import graft.functions.TextFeatures.{charHash, tokens}
    val toks = pairs.select(col(idCol).as("pair_id"),
        tokens(col(candCol)).as("__ct"), tokens(col(refCol)).as("__rt"))
      .localCheckpoint(eager = false) // forked: the two gram streams
    def sideGrams(c: String, tag: Int): DataFrame = toks
      .filter(size(col(c)) >= n)
      .select(col("pair_id"), lit(tag).as("__side"),
        explode(transform(sequence(lit(1), size(col(c)) - lit(n - 1)),
          i => charHash(concat_ws(" ", slice(col(c), i, lit(n))))))
          .as("__g"))
    val counts = sideGrams("__ct", 0).unionByName(sideGrams("__rt", 1))
      .groupBy(col("pair_id"), col("__side"), col("__g"))
      .agg(count(lit(1)).as("__c"))
      .localCheckpoint(eager = false) // forked: totals + clipped overlap
    val totals = counts.groupBy(col("pair_id")).agg(
        sum(when(col("__side") === 0, col("__c"))).as("cand_grams"),
        sum(when(col("__side") === 1, col("__c"))).as("ref_grams"))
      .filter(col("cand_grams").isNotNull && col("ref_grams").isNotNull)
    val clip = counts.groupBy(col("pair_id"), col("__g")).agg(
        sum(when(col("__side") === 0, col("__c"))).as("__ca"),
        sum(when(col("__side") === 1, col("__c"))).as("__cr"))
      .filter(col("__ca").isNotNull && col("__cr").isNotNull)
      .groupBy(col("pair_id"))
      .agg(sum(least(col("__ca"), col("__cr"))).as("__hit"))
    totals.join(clip, Seq("pair_id"), "left")
      .select(col("pair_id"), col("cand_grams"), col("ref_grams"),
        coalesce(col("__hit"), lit(0L)).as("hit_grams"))
      .withColumn("precision_ppm", expr("(hit_grams * 1000000) div cand_grams"))
      .withColumn("recall_ppm", expr("(hit_grams * 1000000) div ref_grams"))
      .withColumn("f1_ppm",
        when(col("precision_ppm") + col("recall_ppm") === 0, lit(0L))
          .otherwise(expr(
            "(2 * precision_ppm * recall_ppm) div (precision_ppm + recall_ppm)")))
  }

  /** X192: Krippendorff's alpha (nominal) — the multi-rater agreement
    * statistic X156's Cohen's kappa cannot give: kappa needs exactly
    * two raters rating everything; annotation QA at corpus scale has
    * MANY raters, MISSING ratings, and varying raters-per-unit. Alpha
    * handles all three (Krippendorff 2004, coincidence-matrix form):
    *   α = 1 − (n−1)·Σ_u (m_u² − Σ_v n_uv²)/(m_u−1)
    *           / (n² − Σ_v n_v²)
    * over units with ≥ 2 ratings (n = total ratings on those units).
    *
    * EXACT integer arithmetic despite the per-unit fraction: every
    * denominator m_u−1 divides L = lcm(1..maxRaters−1), so the
    * disagreement sum scales through L as integers and ONE truncating
    * division lands the ppm — Spark ≡ DuckDB bit-for-bit, no float
    * accumulation order to match. maxRaters ≤ 13 keeps L ≤ 27720 and
    * the product chain inside DECIMAL(38,0) (loud raise past either
    * bound; n ≤ 10⁹ ratings documented).
    *
    * Shape: one (unit, value) count, two stacked map-side-combinable
    * rollups (per-unit moments + value marginals from the SAME counts
    * — the corpus is scanned once), a broadcast single-row fold. The
    * unit key space is the state bound; no window anywhere.
    *
    * @return one row (n_units, n_ratings, alpha_ppm) — alpha_ppm is
    *         signed (systematic disagreement reads negative); 10⁶ when
    *         there is no value variation at all (D_e = 0)
    */
  def krippendorffAlphaPpm(df: DataFrame, unitCol: String, valueCol: String,
                           maxRaters: Int = 12): DataFrame = {
    require(maxRaters >= 2 && maxRaters <= 13,
      s"maxRaters must lie in [2, 13] (lcm bound): $maxRaters")
    val L = (1 to (maxRaters - 1)).foldLeft(BigInt(1))(
      (a, i) => a * i / a.gcd(BigInt(i))).toLong
    val uv = df.select(col(unitCol).as("__u"), col(valueCol).as("__v"))
      .groupBy(col("__u"), col("__v")).agg(count(lit(1)).as("__c"))
      .localCheckpoint(eager = false) // forked: unit moments + value marginals
    val units = uv.groupBy(col("__u"))
      .agg(sum(col("__c")).as("__m"),
        sum(expr("cast(__c as decimal(38,0)) * __c")).as("__ssq"))
      .filter(col("__m") >= 2)
      .withColumn("__m",
        when(col("__m") > maxRaters, raise_error(concat(
          lit(s"krippendorffAlphaPpm: unit exceeds maxRaters=$maxRaters "
            + "ratings (cap the ratings or raise the bound): "),
          col("__u").cast("string")))).otherwise(col("__m")))
      .localCheckpoint(eager = false) // forked: disagreement fold + marginal gate
    val folded = units.agg(
      count(lit(1)).as("n_units"), sum(col("__m")).as("n_ratings"),
      sum((expr("cast(__m as decimal(38,0)) * __m") - col("__ssq"))
        * expr(s"$L div (__m - 1)")).as("__sdo"))
    val marg = uv.join(units.select(col("__u")), Seq("__u"), "left_semi")
      .groupBy(col("__v")).agg(sum(col("__c")).as("__cv"))
      .agg(sum(expr("cast(__cv as decimal(38,0)) * __cv")).as("__ssv"))
    folded.crossJoin(marg)
      .select(col("n_units"), col("n_ratings"),
        when(col("n_ratings") > 1000000000L, raise_error(lit(
          "krippendorffAlphaPpm ratings bound: 1e9 total ratings keeps the "
            + "product chain inside DECIMAL(38,0) — sample the units first")))
          .when(col("n_units") === 0, lit(0L))
          .when(expr("cast(n_ratings as decimal(38,0)) * n_ratings") === col("__ssv"),
            lit(1000000L))
          .otherwise(lit(1000000L) - expr(
            s"""(cast(n_ratings - 1 as decimal(38,0)) * __sdo * 1000000)
               | div (cast($L as decimal(38,0))
               | * (cast(n_ratings as decimal(38,0)) * n_ratings - __ssv))""".stripMargin)
            .cast("long"))
          .as("alpha_ppm"))
  }

  /** X205: retrieval metrics at k — the IR-evaluation quartet a
    * pipeline runs against its OWN retrieval components (the ANN/BM25/
    * RRF rankers this library ships) before trusting them to mine hard
    * negatives or route queries: MRR (how early is the FIRST hit),
    * precision@k (how clean is the page), recall@k (how much of the
    * truth surfaced), MAP@k (the order-weighted summary). One row per
    * query, exact ppm integers.
    *
    * AP spelling pinned to floor arithmetic so Spark ≡ DuckDB:
    * ap = (Σ_{hits at rank i≤k} (hits_≤i · 10⁶ div i)) div min(n_rel, k)
    * — per-hit precision floors first, the mean floors second.
    * Queries with no relevant docs read 0 on all four (n_rel = 0 rides
    * along so a consumer can drop them).
    *
    * Scale shape: results are pre-filtered to rank ≤ k, so every join
    * is an equi-join on the query key over ≤ k rows per query and the
    * cumulative window reads ≤ k rows — state ∝ |queries|·k, never
    * corpus volume. Duplicate ranks raise loudly (an ambiguous ranking
    * would silently reorder AP's cumulative hit count).
    *
    * @param results  ranked retrieval output; `rankCol` is 1-based and
    *                 unique per query
    * @param relevant ground-truth (query, doc) pairs; duplicates ignored
    * @return (query, n_rel, n_hits, rr_ppm, p_at_k_ppm, r_at_k_ppm,
    *         ap_ppm)
    */
  def retrievalMetrics(results: DataFrame, relevant: DataFrame,
                       queryCol: String, docCol: String, rankCol: String,
                       k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val wDup = Window.partitionBy(col("__q"), col("__r"))
    val base = results.select(col(queryCol).as("__q"), col(docCol).as("__d"),
        col(rankCol).cast("long").as("__r"))
      .filter(col("__r") <= k)
      .withColumn("__r",
        when(col("__r") < 1L, raise_error(concat(
          lit("retrievalMetrics: ranks are 1-based, got "),
          col("__r").cast("string"))))
          .when(count(lit(1)).over(wDup) > 1, raise_error(concat(
            lit("retrievalMetrics: duplicate rank for query "),
            col("__q").cast("string"),
            lit(" — an ambiguous ranking has no AP"))))
          .otherwise(col("__r")))
    val rel = relevant.select(col(queryCol).as("__q"), col(docCol).as("__d"))
      .distinct()
      .localCheckpoint(eager = false) // forked: per-query totals + hit join
    val nRel = rel.groupBy(col("__q")).agg(count(lit(1)).as("__nrel"))
    val wCum = Window.partitionBy(col("__q")).orderBy(col("__r"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val hits = base.join(rel, Seq("__q", "__d"))
      .withColumn("__h", count(lit(1)).over(wCum))
      .groupBy(col("__q"))
      .agg(count(lit(1)).as("__nhit"), min(col("__r")).as("__first"),
        sum(expr("(__h * 1000000) div __r")).as("__apsum"))
    base.select(col("__q")).distinct()
      .join(nRel, Seq("__q"), "left")
      .join(hits, Seq("__q"), "left")
      .select(col("__q").as(queryCol),
        coalesce(col("__nrel"), lit(0L)).as("n_rel"),
        coalesce(col("__nhit"), lit(0L)).as("n_hits"),
        coalesce(expr("1000000 div __first"), lit(0L)).as("rr_ppm"),
        coalesce(expr(s"(__nhit * 1000000) div $k"), lit(0L)).as("p_at_k_ppm"),
        coalesce(expr("(__nhit * 1000000) div __nrel"), lit(0L)).as("r_at_k_ppm"),
        coalesce(expr(s"__apsum div least(__nrel, ${k.toLong})"), lit(0L))
          .as("ap_ppm"))
  }

  /** Pinned NDCG discount table: w(i) = ⌊10⁹ / log₂(i+1)⌋ for 1-based
    * rank i. Computed once with StrictMath (bit-reproducible across
    * JVMs/platforms, unlike Math.log intrinsics) and INLINED into the
    * oracle SQL as literals — both engines consume the same integers,
    * so no runtime float ever crosses the comparison boundary. */
  def ndcgDiscount(k: Int): IndexedSeq[Long] =
    (1 to k).map(i =>
      (1e9 / (StrictMath.log(i + 1.0) / StrictMath.log(2.0))).toLong)

  /** X208: NDCG@k — the graded companion completing the retrieval
    * quartet ([[retrievalMetrics]] sees binary relevance; NDCG weights
    * HOW relevant each position is): dcg = Σ_{i≤k} (2^grade − 1)·w(i)
    * with the [[ndcgDiscount]] table, idcg = the same sum over the
    * query's own grades sorted descending (ties broken by the grade
    * value itself — deterministic because only the multiset of grades
    * enters), ndcg = dcg·10⁶ div idcg in exact integers.
    *
    * Grades are bounded loudly at 20 (2^20−1 gains keep every fold
    * comfortably inside long·10⁹ → DECIMAL(38,0)); ungraded retrieved
    * docs count grade 0. Queries with no graded docs read 0 with
    * n_graded riding along. Scale shape identical to
    * [[retrievalMetrics]]: rank ≤ k pre-filter, equi-joins on the
    * query key, the ideal ranking's window reads ≤ the query's graded
    * docs AFTER a (query, grade) compaction — count-weighted, so state
    * is |distinct grades| ≤ 21 rows per query, never the corpus.
    *
    * @param grades (query, doc, grade) ground truth; duplicates ignored
    *               (max grade wins, deterministically)
    * @return (query, n_graded, dcg_q, idcg_q, ndcg_ppm)
    */
  def ndcgAtK(results: DataFrame, grades: DataFrame, queryCol: String,
              docCol: String, rankCol: String, gradeCol: String,
              k: Int): DataFrame = {
    require(k >= 1 && k <= 1000, s"k must be in [1, 1000]: $k")
    val disc = ndcgDiscount(k)
    val wDup = Window.partitionBy(col("__q"), col("__r"))
    val base = results.select(col(queryCol).as("__q"), col(docCol).as("__d"),
        col(rankCol).cast("long").as("__r"))
      .filter(col("__r") <= k)
      .withColumn("__r",
        when(col("__r") < 1L, raise_error(concat(
          lit("ndcgAtK: ranks are 1-based, got "), col("__r").cast("string"))))
          .when(count(lit(1)).over(wDup) > 1, raise_error(concat(
            lit("ndcgAtK: duplicate rank for query "), col("__q").cast("string"))))
          .otherwise(col("__r")))
    val g = grades.select(col(queryCol).as("__q"), col(docCol).as("__d"),
        col(gradeCol).cast("long").as("__g"))
      .groupBy(col("__q"), col("__d")).agg(max(col("__g")).as("__g"))
      .withColumn("__g",
        when(col("__g") > 20L || col("__g") < 0L, raise_error(concat(
          lit("ndcgAtK grade bound: grades live in [0, 20] (2^20 gains "
            + "keep the fold exact) — got "), col("__g").cast("string"))))
          .otherwise(col("__g")))
      .localCheckpoint(eager = false) // forked: dcg join + ideal ranking
    // rank -> discount as a literal lookup (element_at on a pinned array)
    val discCol = array(disc.map(lit): _*)
    val dcg = base.join(g, Seq("__q", "__d"))
      .groupBy(col("__q"))
      .agg(sum(expr("shiftleft(cast(1 as bigint), cast(__g as int)) - 1") *
        element_at(discCol, col("__r").cast("int"))).as("__dcg"))
    // ideal DCG: grades sorted desc; compact to (query, grade, count)
    // first so the window walks <= 21 rows per query, then each grade
    // block covers ideal ranks (cum - c, cum] ∩ [1, k]
    val wIdeal = Window.partitionBy(col("__q")).orderBy(col("__g").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val discPrefix = disc.scanLeft(0L)(_ + _) // prefix(j) = Σ_{i<=j} w(i)
    val prefCol = array(discPrefix.map(lit): _*) // 1-based via element_at(j+1)
    val idcg = g.groupBy(col("__q"), col("__g"))
      .agg(count(lit(1)).as("__c"))
      .withColumn("__cum", sum(col("__c")).over(wIdeal))
      .select(col("__q"), col("__g"),
        (least(col("__cum"), lit(k.toLong)) -
          least(col("__cum") - col("__c"), lit(k.toLong))).as("__take"),
        least(col("__cum"), lit(k.toLong)).as("__hi"))
      .filter(col("__take") > 0L)
      .select(col("__q"), col("__g"), col("__hi"), col("__take"))
      .groupBy(col("__q"))
      .agg(count(lit(1)).as("__nblk"),
        sum(expr("shiftleft(cast(1 as bigint), cast(__g as int)) - 1") *
          (element_at(prefCol, (col("__hi") + 1L).cast("int")) -
            element_at(prefCol, (col("__hi") - col("__take") + 1L).cast("int"))))
          .as("__idcg"))
    val nGraded = g.groupBy(col("__q")).agg(count(lit(1)).as("n_graded"))
    base.select(col("__q")).distinct()
      .join(nGraded, Seq("__q"), "left")
      .join(dcg, Seq("__q"), "left")
      .join(idcg.select(col("__q"), col("__idcg")), Seq("__q"), "left")
      .select(col("__q").as(queryCol),
        coalesce(col("n_graded"), lit(0L)).as("n_graded"),
        coalesce(col("__dcg"), lit(0L)).as("dcg_q"),
        coalesce(col("__idcg"), lit(0L)).as("idcg_q"),
        coalesce(expr("""CASE WHEN __idcg > 0
            |THEN (cast(coalesce(__dcg, 0) as decimal(38,0)) * 1000000)
            |     div __idcg END""".stripMargin).cast("long"), lit(0L))
          .as("ndcg_ppm"))
  }
}
