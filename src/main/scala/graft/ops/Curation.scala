package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFeatures._

/** End-to-end corpus curation — the composition a training-data pipeline
  * actually runs, as one declarative program: quality gate → exact
  * dedup (keep lowest id per text) → near-dup clustering (MinHash+LSH
  * candidates, connected components) keeping one representative per
  * duplicate cluster.
  *
  * Every stage is one of the engine's bounded-shuffle operators: the
  * quality gate is a codegen'd filter, exact dedup shuffles on the
  * fixed-width text hash (text rides only to disambiguate collisions),
  * near-dup candidates come from the banded bucket join (never
  * all-pairs), and cluster collapse is min-label propagation with
  * checkpointed lineage — the same pieces that hold at 100 TB
  * individually compose without any new scale hazard.
  */
object Curation {

  /** @return the kept documents as (id, text) — quality-passing, one
    *         representative (min id) per exact/near-duplicate group. */
  def curate(docs: DataFrame, idCol: String, textCol: String,
             minTokens: Int = 5, minAlphaRatio: Double = 0.5,
             nearDupThreshold: Double = 0.75): DataFrame = {
    val toks = tokens(col(textCol))
    // \p{L} (any Unicode letter), NOT [a-zA-Z]: this engine's domain is
    // Portuguese text — ASCII-only alpha would count every Ç/Ã/É against
    // the ratio and drop legitimate accented documents. (q29's ASCII
    // alpha_ratio is a separate REPORTED metric; this one gates.)
    val alphaRatio = length(regexp_replace(col(textCol), "[^\\p{L}]", ""))
      .cast("double") / length(col(textCol)).cast("double")
    val qual = docs.filter(size(toks) >= minTokens && alphaRatio >= minAlphaRatio)

    // exact dedup, min id per text — grouped on (hash, text) so the
    // shuffle key is fixed-width and collisions can't merge texts
    val exact = qual
      .groupBy(charHash(col(textCol)).as("__h"), col(textCol))
      .agg(min(col(idCol)).as(idCol))
      .select(col(idCol), col(textCol))
      .localCheckpoint() // read by the candidate chain AND the final anti-join

    val pairs = TextDedup.minhashCandidates(exact, idCol, textCol)
      .filter(col("est_jaccard") >= nearDupThreshold)
      .select(col("id_a").as("a"), col("id_b").as("b"))
    // non-representative members of every near-dup cluster
    val dropped = ConnectedComponents.labels(pairs)
      .filter(col("node") =!= col("cluster_id"))
      .select(col("node"))
    exact.join(dropped, exact(idCol) === dropped("node"), "left_anti")
  }

  /** Temperature-resampled mixture weights per group — the multilingual
    * rebalancing rule (w ∝ p^α, α = 1/2 here; Conneau & Lample 2019
    * §3.1 use α≈0.7, GPT-3/PaLM data mixtures the same family): raw
    * group shares p are flattened toward uniform so head groups stop
    * drowning tail groups, then a sampling budget is apportioned.
    *
    * Determinism contract: √n is IEEE-correctly-rounded on every
    * engine (unlike ln/pow — this is why α is 1/2 and not 0.7), and it
    * is floor-quantized to a long BEFORE normalization, so the
    * normalizing total is an integer sum — exact under any aggregation
    * order. Weights and budget allocations are emitted ppm-floored in
    * pure integer arithmetic.
    *
    * Group cardinality is assumed small (languages, sources — not
    * documents): the final normalization is a single-partition window
    * over |groups| rows, deliberately NOT a scale path.
    *
    * @return (group, n_docs, weight_ppm, alloc) — alloc sums to ≤ budget.
    */
  def mixtureWeights(docs: DataFrame, groupCol: String, budget: Long): DataFrame = {
    val byGroup = docs.groupBy(col(groupCol)).agg(count(lit(1)).as("n_docs"))
      .withColumn("__sq", floor(sqrt(col("n_docs").cast("double")) * 1e6).cast("long"))
    val total = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
    byGroup
      .withColumn("__tot", sum(col("__sq")).over(total))
      .withColumn("weight_ppm", expr("__sq * 1000000 DIV __tot"))
      .withColumn("alloc", expr(s"__sq * ${budget}L DIV __tot"))
      .select(col(groupCol), col("n_docs"), col("weight_ppm"), col("alloc"))
  }

  /** Budget-driven mixture sampling: [[mixtureWeights]] decides how many
    * documents each group contributes, [[graft.ops.TermStats.stratifiedSample]]'s
    * hash-ordered head picks WHICH — composed, the full "rebalance the
    * corpus to a token budget" step of a training-data pipeline, still
    * deterministic end-to-end (the hash plays the RNG on both levels).
    *
    * The per-group allocation joins back as a broadcast (|groups| rows);
    * the sample itself is one ranked window per group.
    */
  def mixtureSample(docs: DataFrame, groupCol: String, idCol: String,
                    orderHash: org.apache.spark.sql.Column, budget: Long): DataFrame = {
    val alloc = mixtureWeights(docs, groupCol, budget)
      .select(col(groupCol), col("alloc"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol).orderBy(orderHash.asc, col(idCol).asc)
    docs.join(broadcast(alloc), Seq(groupCol))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= col("alloc"))
      .select(col(groupCol), col(idCol), col("rnk"), col("alloc"))
  }

  /** Deterministic train/val/test assignment: bucket on the polynomial
    * hash of `text#id`, cut at fixed percentiles. The hash plays the
    * RNG — same corpus ⇒ same split on any cluster layout, re-runnable
    * and auditable (the property a training pipeline needs; `rand()`
    * splits are neither). Pure projection: zero shuffles, no state.
    *
    * Hashing text+id (not id alone) decorrelates the split from id
    * assignment order, so time-ordered ingestion cannot leak temporal
    * structure into the split boundaries.
    *
    * @param cuts ascending (name, upperBoundExclusive) percentile cuts;
    *             the last bound must be 100.
    * @return input columns plus (bucket, split).
    */
  def hashSplit(docs: DataFrame, idCol: String, textCol: String,
                cuts: Seq[(String, Int)] =
                  Seq("train" -> 80, "val" -> 90, "test" -> 100)): DataFrame = {
    require(cuts.nonEmpty && cuts.last._2 == 100 &&
      cuts.map(_._2) == cuts.map(_._2).sorted, "cuts must ascend to 100")
    // charHash is already non-negative (mod 1e9+7 fold), so % is safe
    val bucket = charHash(concat(col(textCol), lit("#"), col(idCol).cast("string"))) % 100
    val split = cuts.init.foldRight(lit(cuts.last._1): org.apache.spark.sql.Column) {
      case ((name, ub), acc) => when(col("bucket") < ub, name).otherwise(acc)
    }
    docs.withColumn("bucket", bucket).withColumn("split", split)
  }

  /** X124: leakage-safe train/val/test split — the [[hashSplit]]
    * contract lifted from documents to NEAR-DUP GROUPS, so a duplicate
    * pair can never straddle the train/test boundary (the
    * classic eval-contamination path a per-doc split leaves open: doc
    * and its clone land in different buckets with probability
    * 1 − 1/100).
    *
    * `pairs` is any duplicate-pair frame (a, b) — MinHash LSH at a
    * threshold in practice. Groups are its connected components
    * ([[ConnectedComponents.labels]], pointer-doubling log-round
    * bound); docs in no pair are singleton groups. Every member
    * inherits the bucket of the group REPRESENTATIVE (the min-id
    * member, which by the cluster-id construction IS `group_id`):
    * hash of the rep's `text#id`, so the split stays decorrelated from
    * id assignment order exactly as in [[hashSplit]], and is unbiased
    * across groups (a min-over-members bucket would skew large
    * clusters toward 0).
    *
    * Dataflow: CC on the pair frame (shuffle ∝ pairs, log rounds), one
    * id-keyed left join to attach labels, the |groups|-row rep frame
    * joins back on the group key — strategy left to AQE. No windows,
    * no driver state beyond CC's bounded fast path.
    *
    * @return (`idCol`, group_id, bucket, split)
    */
  def leakageSafeSplit(docs: DataFrame, idCol: String, textCol: String,
                       pairs: DataFrame,
                       cuts: Seq[(String, Int)] =
                         Seq("train" -> 80, "val" -> 90, "test" -> 100)): DataFrame = {
    require(cuts.nonEmpty && cuts.last._2 == 100 &&
      cuts.map(_._2) == cuts.map(_._2).sorted, "cuts must ascend to 100")
    val labels = ConnectedComponents.labels(pairs)
    val grouped = docs
      .join(labels, docs(idCol) === labels("node"), "left")
      .select(col(idCol), col(textCol),
        coalesce(col("cluster_id"), col(idCol)).as("group_id"))
      .localCheckpoint(eager = false) // forked: rep buckets + member join
    val reps = grouped.filter(col(idCol) === col("group_id"))
      .select(col("group_id"),
        (charHash(concat(col(textCol), lit("#"),
          col("group_id").cast("string"))) % 100).as("bucket"))
    val split = cuts.init.foldRight(lit(cuts.last._1): org.apache.spark.sql.Column) {
      case ((name, ub), acc) => when(col("bucket") < ub, name).otherwise(acc)
    }
    grouped.join(reps, Seq("group_id"))
      .select(col(idCol), col("group_id"), col("bucket"), split.as("split"))
  }

  /** X147: deterministic token-dropout augmentation — word dropout
    * (the EDA/SSL text-augmentation staple) with the repo's hash-RNG
    * discipline: token at position p of doc d under variant v drops
    * iff hash(d, p + 31·v) mod 1000 < `dropPermille`. Every variant of
    * every doc is reproducible bit-for-bit on any cluster layout and
    * any retry — the property that makes augmented corpora auditable
    * (a seeded RNG re-rolls on task retry; a hash cannot).
    *
    * Pure per-row projection inside codegen: no shuffle, no state;
    * generate k variants by calling with k variant ids and unioning.
    *
    * @return (doc_id, variant, text_aug, n_tokens, n_kept)
    */
  def tokenDropout(docs: DataFrame, idCol: String, textCol: String,
                   dropPermille: Int, variant: Int): DataFrame = {
    require(dropPermille >= 0 && dropPermille < 1000,
      s"drop rate out of [0, 1000): $dropPermille")
    require(variant >= 0, s"negative variant: $variant")
    val M = 1000003L
    docs.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("__t"))
      .select(col("doc_id"), lit(variant.toLong).as("variant"),
        filter(col("__t"), (_, i) =>
          ((col("doc_id") % M) * 8191L
            + ((i.cast("long") + lit(variant * 31L)) % M) * 127L
            + 524287L) % M % 1000L >= dropPermille).as("__kept"),
        size(col("__t")).cast("long").as("n_tokens"))
      .select(col("doc_id"), col("variant"),
        concat_ws(" ", col("__kept")).as("text_aug"),
        col("n_tokens"), size(col("__kept")).cast("long").as("n_kept"))
  }

  /** X143: stratified k-fold assignment — deterministic
    * cross-validation folds with EXACT per-stratum balance (fold sizes
    * differ by at most one inside every stratum, the property a
    * `hash mod k` split only has in expectation): rank each doc
    * within its stratum under the (content-hash, id) order — the hash
    * plays the shuffle, text#id keeps it decorrelated from ingestion
    * order as in [[hashSplit]] — then fold = (rank−1) mod k.
    *
    * The rank is the TOTAL (stratum, hash, id) struct order via
    * [[Packing]]'s two-pass distributed prefix count with |strata|-row
    * offset recovery ([[perplexityBuckets]]' discipline) — no
    * per-stratum window ever sees raw document volume.
    *
    * @return (`strataCol`, doc_id, rnk, fold) with fold in 0..k-1
    */
  def stratifiedKFold(docs: DataFrame, idCol: String, textCol: String,
                      strataCol: String, k: Int): DataFrame = {
    require(k >= 2, s"need at least 2 folds: $k")
    val keyed = docs.select(struct(col(strataCol).as("g"),
        charHash(concat(col(textCol), lit("#"),
          col(idCol).cast("string"))).as("h"),
        col(idCol).as("id")).as("__sk"), lit(1L).as("__one"))
    val ranked = Packing.runningTotalsMulti(keyed, "__sk", Seq("__one"))
      .select(col("__id.g").as("__g"), col("__id.id").as("doc_id"),
        col("__one_cum").as("__grank"))
      .localCheckpoint(eager = false) // forked: offsets + output
    val g0 = ranked.groupBy(col("__g")).agg(min(col("__grank")).as("__g0"))
    ranked.join(g0, Seq("__g"))
      .withColumn("rnk", col("__grank") - col("__g0") + 1)
      .select(col("__g").as(strataCol), col("doc_id"), col("rnk"),
        expr(s"(rnk - 1) % $k").as("fold"))
  }

  /** X133: water-filling token-budget allocation — the capped
    * fair-share solver behind every "mix these corpora into B tokens"
    * plan: each group receives min(available, t) where the water
    * level t is the largest equal share the budget can sustain after
    * the small groups cap out at their full size. [[mixtureWeights]]
    * answers "what proportions"; this answers "how many tokens of
    * each, given what actually exists" — groups below the level
    * contribute everything, the rest split the remainder equally.
    *
    * CLOSED FORM, no driver loop: sort groups by availability
    * ascending, j = the largest prefix whose members all fit under the
    * level implied by capping them (the cross-multiplied test
    * n_i·(G−i) ≤ B−S_i — division-free), then t = (B−S_j) DIV (G−j).
    * Floor semantics: Σ alloc ≤ B with a gap < |uncapped groups|
    * (documented; distribute the crumbs downstream if they matter).
    *
    * The windows run over |groups| rows — a model axis, bounded by
    * construction (the [[mixtureWeights]] single-partition contract),
    * never document volume; token counting is one map-side-combinable
    * aggregate over the corpus.
    *
    * @param weightCol per-row token weight (cast to long)
    * @return (group, n_tokens, capped, alloc) ordered by group
    */
  def waterFillAlloc(df: DataFrame, groupCol: String,
                     weightCol: org.apache.spark.sql.Column,
                     budget: Long): DataFrame = {
    require(budget >= 0, s"negative budget: $budget")
    import org.apache.spark.sql.expressions.Window
    val g = df.groupBy(col(groupCol))
      .agg(sum(weightCol.cast("long")).as("n_tokens"))
    val ord = Window.orderBy(col("n_tokens").asc, col(groupCol).asc)
    val all = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val idx = g
      .withColumn("__i", row_number().over(ord).cast("long"))
      .withColumn("__s", sum(col("n_tokens")).over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__g", count(lit(1)).over(all).cast("long"))
      .localCheckpoint(eager = false) // forked: level search + output
    // j = largest prefix that fully caps under its implied level;
    // j = G (everything fits) when the budget covers the total.
    val lvl = idx.agg(
      max(when(col("n_tokens") * (col("__g") - col("__i")) <=
          lit(budget) - col("__s"), col("__i")).otherwise(lit(0L))).as("__j"),
      max(when(col("__i") === col("__g") && col("__s") <= budget, lit(true))
        .otherwise(lit(false))).as("__all_fit"))
    val withJ = idx.crossJoin(broadcast(lvl))
      .withColumn("__sj", max(when(col("__i") <= col("__j"), col("__s"))
        .otherwise(lit(0L))).over(all))
    withJ.select(col(groupCol), col("n_tokens"),
        when(col("__all_fit") || col("__i") <= col("__j"), lit(true))
          .otherwise(lit(false)).as("capped"),
        when(col("__all_fit") || col("__i") <= col("__j"), col("n_tokens"))
          .otherwise(expr(s"(${budget}L - __sj) DIV (__g - __j)")).as("alloc"))
      .orderBy(col(groupCol))
  }

  /** X127: CCNet-style perplexity bucketing (Wenzek et al. LREC'20) —
    * per-language head/middle/tail thirds under the corpus LM score,
    * the gate CCNet applies before keeping head+middle for training.
    * The LM is [[TermStats.bigramLmScore]]'s log-free surprisal (the
    * corpus itself is the model; HIGH mean_p_q = probable = head,
    * inverting CCNet's low-perplexity-first order with identical
    * semantics), so the whole composition stays integer-exact.
    *
    * The per-group rank is the distributed two-pass prefix count over
    * the TOTAL (group, −score, id) struct order ([[Packing]]'s
    * machinery — the X94/X107 discipline) with per-group offsets
    * recovered by a |groups|-row min-rank join: no per-group window
    * ever sees raw document volume, so one giant language cannot
    * funnel the corpus through a single task. Bucket arithmetic is
    * 3·(rank−1) div n — exact thirds, remainder docs landing in the
    * later buckets.
    *
    * @return (`groupCol`, doc_id, mean_p_q, rnk, bucket) — docs with
    *         fewer than two tokens have no LM score and are absent
    *         (mirrored by the oracle's inner join)
    */
  def perplexityBuckets(docs: DataFrame, idCol: String, textCol: String,
                        groupCol: String): DataFrame = {
    val scores = TermStats.bigramLmScore(docs, idCol, textCol)
    val scored = docs.select(col(idCol).as("doc_id"), col(groupCol).as("__g"))
      .join(scores, Seq("doc_id"))
      .select(struct(col("__g").as("g"), (-col("mean_p_q")).as("ns"),
        col("doc_id").as("id")).as("__sk"), lit(1L).as("__one"))
    val ranked = Packing.runningTotalsMulti(scored, "__sk", Seq("__one"))
      .select(col("__id.g").as("__g"), col("__id.id").as("doc_id"),
        (-col("__id.ns")).as("mean_p_q"), col("__one_cum").as("__grank"))
      .localCheckpoint(eager = false) // forked: group offsets + output
    val gstats = ranked.groupBy(col("__g"))
      .agg(min(col("__grank")).as("__g0"), count(lit(1)).as("__n"))
    ranked.join(gstats, Seq("__g"))
      .withColumn("rnk", col("__grank") - col("__g0") + 1)
      .select(col("__g").as(groupCol), col("doc_id"), col("mean_p_q"),
        col("rnk"),
        when(expr("3 * (rnk - 1) DIV __n") === 0, lit("head"))
          .when(expr("3 * (rnk - 1) DIV __n") === 1, lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
  }

  /** Deterministic weighted (probability-proportional-to-size)
    * systematic sampling: lay the row weights end-to-end in `idCol`
    * order and select every row whose weight interval crosses a
    * multiple of `step` — one expected selection per `step` units of
    * total weight, heavy rows certain to appear (a row with
    * weight ≥ step crosses at least one boundary and reports multiple
    * hits), all without randomness, so the sample is reproducible on
    * any engine and any layout. The running weight is
    * [[Packing.runningTotals]]' two-pass distributed prefix sum — no
    * single-partition window, bounded driver state.
    *
    * @return (`idCol`, weight, n_hits) for selected rows, where n_hits
    *         = how many step boundaries the row's interval crosses
    */
  def weightedSystematicSample(df: DataFrame, idCol: String,
                               weightCol: org.apache.spark.sql.Column,
                               step: Long): DataFrame = {
    require(step > 0, s"step must be positive, got $step")
    Packing.runningTotals(df, idCol, weightCol)
      .withColumn("n_hits",
        expr(s"__end div ${step}L") - expr(s"(__end - __val) div ${step}L"))
      .filter(col("n_hits") > 0)
      .select(col("__id").as(idCol), col("__val").as("weight"), col("n_hits"))
  }

  /** Source-level quality gate (the CCNet/RefinedWeb move): score every
    * SOURCE by its documents' aggregate quality and drop whole sources
    * below the bar — low-grade domains are removed even when individual
    * pages sneak past per-document filters, and the decision is
    * auditable at the source grain.
    *
    * The score is integer-exact end-to-end: per doc,
    * `(alpha_ppm + stop_ppm) div 2` where alpha_ppm =
    * alpha_chars·1e6 div chars and stop_ppm = stopword_hits·1e6 div
    * tokens (the [a-zA-Z] alphabet and the all-language stopword list
    * of [[graft.functions.TextAnalysis.qualityColumns]]); per source,
    * the truncating mean `sum div count`. No float ever aggregates, so
    * the result is layout- and engine-independent. Documents with no
    * tokens or no characters are dropped by the gate itself (they
    * cannot be scored and carry no signal).
    *
    * Scale shape: one per-doc projection, one map-side-combinable
    * (sum, count) aggregate on source, and the verdict joins back on
    * the source key — |sources| ≪ |docs| but unbounded (web domains),
    * so the join strategy is left to AQE, never force-broadcast.
    *
    * @return (`idCol`, `sourceCol`, src_score_ppm) for documents of
    *         sources scoring ≥ `minScorePpm`
    */
  /** Per-document integer quality score — the X56 ppm formula
    * (mean of alpha-ratio and stopword-ratio, each in ppm) exposed
    * standalone so survivor policies and gates can rank single
    * documents, not just sources. Docs with no tokens or no characters
    * are absent (the ratios are undefined there), mirroring
    * [[sourceQualityFilter]]'s gate.
    *
    * @return (`idCol`, score_ppm)
    */
  def docQualityScorePpm(docs: DataFrame, idCol: String,
                         textCol: String): DataFrame = {
    val allStop = stopwords.values.flatten.toSeq.distinct
    docs
      .select(col(idCol), col(textCol).as("__text"),
        tokens(col(textCol)).as("__toks"))
      .filter(size(col("__toks")) >= 1 && length(col("__text")) >= 1)
      .select(col(idCol),
        length(regexp_replace(col("__text"), "[^a-zA-Z]", ""))
          .cast("long").as("__alpha"),
        length(col("__text")).cast("long").as("__chars"),
        stopwordHits(col("__toks"), allStop).cast("long").as("__stop"),
        size(col("__toks")).cast("long").as("__ntok"))
      .select(col(idCol), expr(
        "((__alpha * 1000000 div __chars) + (__stop * 1000000 div __ntok)) div 2")
        .as("score_ppm"))
  }

  def sourceQualityFilter(docs: DataFrame, idCol: String, textCol: String,
                          sourceCol: String, minScorePpm: Long): DataFrame = {
    val allStop = stopwords.values.flatten.toSeq.distinct
    val scored = docs
      .select(col(idCol), col(sourceCol), col(textCol).as("__text"),
        tokens(col(textCol)).as("__toks"))
      .filter(size(col("__toks")) >= 1 && length(col("__text")) >= 1)
      .select(col(idCol), col(sourceCol),
        length(regexp_replace(col("__text"), "[^a-zA-Z]", ""))
          .cast("long").as("__alpha"),
        length(col("__text")).cast("long").as("__chars"),
        stopwordHits(col("__toks"), allStop).cast("long").as("__stop"),
        size(col("__toks")).cast("long").as("__ntok"))
      .withColumn("__score_ppm", expr(
        "((__alpha * 1000000 div __chars) + (__stop * 1000000 div __ntok)) div 2"))
    val bySource = scored.groupBy(sourceCol)
      .agg(sum(col("__score_ppm")).as("__sum"), count(lit(1)).as("__n"))
      .withColumn("src_score_ppm", expr("__sum div __n"))
      .filter(col("src_score_ppm") >= minScorePpm)
      .select(col(sourceCol), col("src_score_ppm"))
    scored.select(col(idCol), col(sourceCol))
      .join(bySource, Seq(sourceCol))
      .select(col(idCol), col(sourceCol), col("src_score_ppm"))
  }

  /** Highest-random-weight (rendezvous) shard of `key` among `shards`
    * buckets: argmax over s of the polynomial hash of `key#s` —
    * deterministic, engine-neutral, and MINIMAL-MOVE by construction
    * (growing the shard count can only move a key to the NEW shard,
    * never between old ones — the Thaler-Ravishankar '98 property a
    * `hash mod k` layout lacks, where k→k+1 reshuffles (k−1)/k of the
    * corpus). Pure projection: zero shuffle, codegen-resident,
    * |shards| hashes per row. Ties break to the larger shard id on
    * both engines (struct max).
    *
    * The score is hash(s#key) SQUARED mod the hash prime: the raw
    * polynomial hash is AFFINE in the salt (for short keys s·31^len
    * never wraps the modulus, so raw scores are monotone in s and
    * every key lands on the top shard — measured, not hypothetical);
    * squaring mod p is the cheapest nonlinearity both engines compute
    * identically in 64-bit integers (h < 2³⁰ ⇒ h² < 2⁶⁰), and it
    * measures uniform (6-shard split of 600 small keys lands 92-109
    * per shard — spec-asserted; 7→8 growth moves 12.3% ≈ 1/8).
    *
    * Practical shard-count bound: the projection materializes one
    * (hash, shard) struct per shard PER ROW before the max folds them,
    * so per-row cost and codegen size are linear in `shards` — built
    * for hundreds-to-a-few-thousand shards (file/tar/bucket layouts),
    * and capped loudly at 4096; a 10⁵-way layout wants a different
    * operator (two-level rendezvous), not this projection. */
  def rendezvousShard(key: Column, shards: Int): Column = {
    require(shards >= 1, s"need at least one shard: $shards")
    require(shards <= 4096,
      s"rendezvousShard is a per-row |shards|-struct projection — " +
        s"practical cap 4096, got $shards (use a two-level layout beyond)")
    // each shard's hash is computed ONCE into a named struct field;
    // the squaring reads that field (no reliance on codegen
    // common-subexpression elimination)
    val salted = array((0 until shards).map(s =>
      struct(charHash(concat(lit(s + "#"), key.cast("string"))).as("h0"),
        lit(s.toLong).as("s"))): _*)
    array_max(transform(salted, e =>
      struct((e.getField("h0") * e.getField("h0") % 1000000007L).as("h"),
        e.getField("s").as("s")))).getField("s")
  }

  /** X194: reshard-stability report — what a shard-count change COSTS
    * before anyone runs it: the fraction of keys whose rendezvous
    * shard differs between `fromShards` and `toShards` is exactly the
    * data volume the re-layout job must rewrite (for k→k+1 the HRW
    * expectation is 1/(k+1); `hash mod k` would pay ~1). Both
    * assignments are projections on the same scan, so the report is
    * ONE fold over one corpus pass — zero shuffle, no state.
    *
    * @return one row (from_shards, to_shards, n_rows, n_moved,
    *         moved_ppm)
    */
  def reshardStability(df: DataFrame, keyExpr: Column, fromShards: Int,
                       toShards: Int): DataFrame = {
    require(fromShards >= 1 && toShards >= 1 && fromShards != toShards,
      s"need two distinct positive shard counts: $fromShards, $toShards")
    df.select(rendezvousShard(keyExpr, fromShards).as("__a"),
        rendezvousShard(keyExpr, toShards).as("__b"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("__a") =!= col("__b"), 1L).otherwise(0L)).as("n_moved"))
      .select(lit(fromShards.toLong).as("from_shards"),
        lit(toShards.toLong).as("to_shards"), col("n_rows"), col("n_moved"),
        when(col("n_rows") === 0, lit(0L))
          .otherwise(expr("n_moved * 1000000 DIV n_rows")).as("moved_ppm"))
  }

  /** X71: token-balanced shard assignment — split the corpus into
    * `nShards` CONTIGUOUS (in id order) output shards whose total
    * weights differ by at most one document's weight: shard =
    * (interval_start · nShards) div total, each document claimed by
    * the shard its weight interval starts in. The writer-side
    * counterpart of [[weightedSystematicSample]]: training shards,
    * tar archives, and eval splits all want "equal TOKENS per file",
    * not equal documents, and a deterministic assignment makes shard
    * manifests reproducible across runs.
    *
    * Scale shape: the same two-pass distributed prefix sum as packing
    * (range partition → bounded per-partition offsets → local window),
    * plus one 1-row total broadcast — no single-partition window, no
    * driver-side corpus state.
    *
    * @return (`idCol`, weight, shard), shard in [0, nShards)
    */
  def assignShards(df: DataFrame, idCol: String,
                   weightCol: org.apache.spark.sql.Column,
                   nShards: Int): DataFrame = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    val totals = Packing.runningTotals(df, idCol, weightCol)
      .localCheckpoint(eager = false) // total agg + projection share it
    val total = totals.agg(max(col("__end")).as("__total"))
    totals.crossJoin(broadcast(total))
      .select(col("__id").as(idCol), col("__val").as("weight"),
        expr(s"((__end - __val) * ${nShards}L) div __total").as("shard"))
  }

  /** Greedy maximum-coverage subset selection: pick `rounds` documents,
    * each maximizing the number of NOT-yet-covered distinct tokens
    * (ties → smaller id) — the classic (1−1/e)-approximate submodular
    * selector for "most diverse K docs" seed-set curation (Nemhauser
    * et al. 1978).
    *
    * Each round is one anti-join of the (doc, token) pairs against the
    * covered-token set plus a map-side-combinable per-doc count; the
    * argmax compiles to TakeOrderedAndProject (per-partition top-1,
    * 1-row driver merge). Driver state per round: one (id, gain) row
    * plus the lazily-checkpointed covered-token frame — vocab-bounded,
    * never corpus-bounded. Rounds are caller-fixed; selection stops
    * early if the corpus is exhausted (every token covered).
    *
    * @return (rnk 1-based, `idCol`, gain) in selection order
    */
  def maxCoverSelect(docs: DataFrame, idCol: String, textCol: String,
                     rounds: Int, shingleN: Int = 1): DataFrame = {
    require(rounds >= 1, "maxCoverSelect needs at least one round")
    require(shingleN >= 1, "maxCoverSelect needs shingleN >= 1")
    val spark = docs.sparkSession
    // coverage universe: distinct n-token shingles (n=1 → tokens) — on
    // a tiny-vocabulary corpus unigram coverage saturates in one pick,
    // so callers choose the grain that matches their diversity signal
    val units =
      if (shingleN == 1) tokens(col(textCol))
      else shingles(tokens(col(textCol)), shingleN)
    val tok = docs.select(col(idCol).as("__id"),
        explode(array_distinct(units)).as("token"))
      .localCheckpoint(eager = false) // read every round
    var covered: DataFrame = null
    val picked = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    var exhausted = false
    (1 to rounds).foreach { r =>
      if (!exhausted) {
        val remaining =
          if (covered == null) tok
          else tok.join(covered, Seq("token"), "left_anti")
        val top = remaining.groupBy(col("__id"))
          .agg(count(lit(1)).as("gain"))
          .orderBy(col("gain").desc, col("__id").asc)
          .limit(1).collect()
        if (top.isEmpty) exhausted = true
        else {
          val id = top(0).getLong(0)
          picked += ((r.toLong, id, top(0).getLong(1)))
          val newCov = tok.filter(col("__id") === id).select(col("token"))
          covered = (if (covered == null) newCov else covered.unionByName(newCov))
            .distinct().localCheckpoint(eager = false)
        }
      }
    }
    import spark.implicits._
    picked.toSeq.toDF("rnk", idCol, "gain")
  }

  /** X169: source-interleaved training order — materialize the global
    * document order that round-robins across sources: every source's
    * 1st doc (sources alphabetical), then every 2nd, … — the
    * curriculum-neutral schedule that stops a source-clustered corpus
    * from feeding the trainer hours of one crawl at a time, without
    * any RNG (within each source docs follow the (text#id hash, id)
    * shuffle order, the [[hashSplit]]/[[stratifiedKFold]] discipline,
    * so the interleave is bit-reproducible under any layout).
    *
    * Both ranks are TOTAL-struct-order distributed prefix counts
    * ([[Packing.runningTotalsMulti]]): no per-source window ever sees
    * raw volume, and the global position needs no single-partition
    * pass — (rank_in_source, source) is already a total order, its
    * prefix count IS the schedule position.
    *
    * @return (doc_id, source, rank_in_source, global_pos)
    */
  def sourceInterleave(docs: DataFrame, idCol: String, textCol: String,
                       sourceCol: String): DataFrame = {
    val keyed = docs.select(struct(col(sourceCol).as("g"),
        charHash(concat(col(textCol), lit("#"),
          col(idCol).cast("string"))).as("h"),
        col(idCol).as("id")).as("__sk"), lit(1L).as("__one"))
    val ranked = Packing.runningTotalsMulti(keyed, "__sk", Seq("__one"))
      .select(col("__id.g").as("__g"), col("__id.id").as("doc_id"),
        col("__one_cum").as("__grank"))
      .localCheckpoint(eager = false) // forked: offsets + second rank
    val g0 = ranked.groupBy(col("__g")).agg(min(col("__grank")).as("__g0"))
    val inSource = ranked.join(g0, Seq("__g"))
      .select(col("doc_id"), col("__g").as("source"),
        (col("__grank") - col("__g0") + 1).as("rank_in_source"))
    Packing.runningTotalsMulti(
        inSource.select(struct(col("rank_in_source").as("r"),
          col("source").as("s"), col("doc_id").as("id")).as("__sk"),
          lit(1L).as("__one")),
        "__sk", Seq("__one"))
      .select(col("__id.id").as("doc_id"), col("__id.s").as("source"),
        col("__id.r").as("rank_in_source"),
        col("__one_cum").as("global_pos"))
  }

  /** X152: histogram-matched resampling — deterministically thin a
    * corpus so its token-length distribution matches a reference
    * corpus's (the distribution-matching step behind "make the web
    * crawl look like the curated set" mixing recipes; the length axis
    * is the canonical instance — any integer feature works the same
    * way). Per length bucket b the capped importance rule:
    *
    *   accept_ppm(b) = min(10⁶, 10⁶ · ref(b)·n_src div (src(b)·n_ref))
    *
    * thins over-represented buckets proportionally and keeps
    * under-represented ones whole (no up-sampling — this is a filter,
    * not a generator). A doc is kept iff hash(text#id) mod 10⁶ falls
    * below its bucket's rate — the [[hashSplit]] RNG discipline:
    * bit-reproducible under any partitioning, layout, or retry, and
    * decorrelated from ingestion order. Buckets absent from the
    * reference read rate 0 (nothing there to match).
    *
    * Shape: two map-side-combinable length histograms (key cardinality
    * ≤ longest-doc/width), a |buckets|-row rate table joined back by
    * bucket equality (AQE-planned — never force-broadcast), one
    * codegen'd keep projection. Corpus volume is read once per side
    * and shuffled only by the rate join's bucket key.
    *
    * @return (doc_id, bucket, accept_ppm, kept) for every corpus doc
    */
  def matchResample(corpus: DataFrame, reference: DataFrame, idCol: String,
                    textCol: String, bucketWidth: Int): DataFrame = {
    require(bucketWidth >= 1, s"non-positive bucket width: $bucketWidth")
    val base = corpus.select(col(idCol).as("doc_id"),
        charHash(concat(col(textCol), lit("#"), col(idCol).cast("string")))
          .as("__h"),
        size(tokens(col(textCol))).cast("long").as("__len"))
      .withColumn("bucket", expr(s"__len div $bucketWidth"))
      .localCheckpoint(eager = false) // forked: source histogram + labeling
    val srcH = base.groupBy(col("bucket")).agg(count(lit(1)).as("__cs"))
      .localCheckpoint(eager = false) // forked: total + rate table
    val refH = reference
      .select(size(tokens(col(textCol))).cast("long").as("__len"))
      .withColumn("bucket", expr(s"__len div $bucketWidth"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("__cr"))
      .localCheckpoint(eager = false) // forked: total + rate table
    val totals = srcH.agg(sum(col("__cs")).as("__ns"))
      .crossJoin(refH.agg(coalesce(sum(col("__cr")), lit(0L)).as("__nr")))
    val rates = srcH.join(refH, Seq("bucket"), "left")
      .crossJoin(broadcast(totals))
      .select(col("bucket"),
        when(coalesce(col("__cr"), lit(0L)) === 0 || col("__nr") === 0, lit(0L))
          .otherwise(least(lit(1000000L),
            expr("""(cast(__cr as decimal(38,0)) * __ns * 1000000)
                   | div (cast(__cs as decimal(38,0)) * __nr)""".stripMargin)
              .cast("long"))).as("accept_ppm"))
    base.join(rates, Seq("bucket"))
      .select(col("doc_id"), col("bucket"), col("accept_ppm"),
        (col("__h") % 1000000L < col("accept_ppm")).cast("long").as("kept"))
  }

  /** X179: leave-one-out target encoding — the leakage-safe categorical
    * feature (Micci-Barreca, SIGKDD Expl. 2001): each row's key is
    * replaced by the mean target of the OTHER rows sharing it,
    * `(Σ_group − v) div (n − 1)`, so a row never sees its own label
    * (plain group-mean encoding leaks the target straight into the
    * feature — the classic CV contamination). Milli-unit quantization
    * with the house sign-split division (truncation toward zero on
    * both engines); a singleton key reads NULL — there is no "other
    * rows" mean, and silently substituting a global prior would hide
    * the very sparsity a curator must see.
    *
    * Shape: ONE map-side-combinable (sum, count) aggregate on the key,
    * joined back to row volume by the same key (AQE-planned — the
    * stats side is |keys| rows, never force-broadcast); the encode is
    * a codegen'd projection. Nothing else moves — the same two-step
    * every 100 TB feature pipeline can afford. Aggregate magnitude is
    * bounded loudly at Σ|v| ≤ 9·10¹⁵ per key (summed in DECIMAL(38,0)
    * so the bound check itself cannot wrap): that bounds |Σ − v| ≤
    * Σ|v| even with mixed-sign targets, so the ×1000 quantization can
    * never wrap a long — a |Σ| bound alone would pass cancelling
    * groups whose individual |v| overflow the encode.
    *
    * @return input keys + (id, v, n, loo_milli); `n` is the key's row
    *         count, `loo_milli` NULL iff n = 1
    */
  def targetEncodeLoo(df: DataFrame, keyCols: Seq[String], idCol: String,
                      targetCol: Column): DataFrame = {
    require(keyCols.nonEmpty, "target encoding needs at least one key column")
    val rows = df.select(
      keyCols.map(col) :+ col(idCol).as("id") :+ targetCol.cast("long").as("v"): _*)
    val stats = rows.groupBy(keyCols.map(col): _*)
      .agg(sum(col("v")).as("__sum"),
        sum(abs(col("v").cast("decimal(38,0)"))).as("__asum"),
        count(lit(1)).as("n"))
      .withColumn("__sum",
        when(col("__asum") > lit(9000000000000000L).cast("decimal(38,0)"),
          raise_error(concat(
            lit("targetEncodeLoo: group sum of |v| exceeds the 9e15 quantization bound: "),
            col("__asum").cast("string")))).otherwise(col("__sum")))
      .drop("__asum")
    rows.join(stats, keyCols)
      .select(keyCols.map(col) ++ Seq(col("id"), col("v"), col("n"),
        when(col("n") === 1, lit(null).cast("long"))
          .when(col("__sum") - col("v") >= 0,
            expr("((__sum - v) * 1000) div (n - 1)"))
          .otherwise(-expr("((v - __sum) * 1000) div (n - 1)"))
          .as("loo_milli")): _*)
  }

  /** X209: priority sampling (Duffield, Lund & Thorup, JACM 2007 — "the
    * near-optimal weight-sensitive sampling scheme") — a k-row sample
    * per group whose retained rows carry UNBIASED total-weight
    * estimates: each row draws priority p = w/u (u uniform), the top-k
    * priorities survive, and every survivor's weight is re-estimated as
    * max(w, τ) with τ the (k+1)-th priority. Σ est over the sample
    * estimates the group total with near-minimal variance — THE way to
    * subsample a weighted corpus (bytes, tokens, costs) and still sum
    * it honestly, where X54's systematic sampler only picks rows.
    *
    * Determinism: u comes from the id hash, u ≈ (h+1)/M with
    * h = polyhash(id) ∈ [0, M), M = 10⁹+7, so p = ⌊w·M div (h+1)⌋ is
    * integer-exact and engine-independent (the q242 hash discipline;
    * floor costs < 1 part in 10⁹ of u-resolution, documented). Weights
    * are bounded loudly to [1, 9·10⁹] so w·M stays inside a long; ids
    * must be unique per group (they ARE the randomness — a duplicate
    * id draws the same u twice and silently correlates the sample).
    *
    * Scale shape: the rank filter `rn ≤ k+1` after `row_number` is
    * exactly the pattern Catalyst's InferWindowGroupLimit rewrites to
    * a per-partition group-limit BEFORE the shuffle — map-side top-k,
    * the window never sorts a full group on one task. τ and the k
    * survivors then read ≤ k+1 rows per group.
    *
    * @return (`groupCol`, id, weight, priority, est_weight): the top-k
    *         rows per group by priority; est_weight = max(w, τ),
    *         exactly w when the group holds ≤ k rows (τ undefined)
    */
  /** [[prioritySample]]'s rank-filter stage, kept separate so the plan
    * guard can see it: the checkpoint right after it hides the
    * WindowGroupLimit from the composed operator's executedPlan (the
    * TextDedup.fanOut visibility pattern). */
  private[graft] def rankTopK(base: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    base
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("__g"))
          .orderBy(col("__p").desc, col("__id").asc)))
      .filter(col("__rn") <= k + 1)
  }

  def prioritySample(df: DataFrame, groupCol: String, idExpr: Column,
                     weightExpr: Column, k: Int): DataFrame = {
    require(k >= 1, s"sample size must be at least 1: $k")
    import org.apache.spark.sql.expressions.Window
    val base = df
      .select(col(groupCol).as("__g"), idExpr.cast("long").as("__id"),
        weightExpr.cast("long").as("__w"))
      .withColumn("__w",
        when(col("__w") < 1L || col("__w") > 9000000000L,
          raise_error(concat(
            lit("prioritySample: weights must sit in [1, 9e9] (keeps w*(1e9+7) inside a long): "),
            col("__w").cast("string")))).otherwise(col("__w")))
      .withColumn("__h",
        graft.functions.TextFeatures.charHash(col("__id").cast("string")))
      .withColumn("__p", expr("(__w * 1000000007L) div (__h + 1L)"))
    val top = rankTopK(base, k)
      .localCheckpoint(eager = false) // forked: tau + the survivor rows
    val tau = top.groupBy(col("__g"))
      .agg(max(when(col("__rn") === k + 1, col("__p"))).as("__tau"))
    top.filter(col("__rn") <= k)
      .join(tau, Seq("__g"))
      .select(col("__g").as(groupCol), col("__id").as("id"),
        col("__w").as("weight"), col("__p").as("priority"),
        greatest(col("__w"), coalesce(col("__tau"), lit(0L)))
          .as("est_weight"))
  }

  /** X211: group-ablation report — for every group (source, domain,
    * shard), what happens to the corpus-level mean if the group is
    * removed: loo_mean = mean over every OTHER row, delta = loo − the
    * overall mean. The leave-one-group-out form of data valuation a
    * curator actually acts on ("dropping source S moves corpus quality
    * by +δ") — the group-grain sibling of X181's per-row LOO encode,
    * and the decision input to X63's source gate (which drops on the
    * group's OWN score; this measures the effect on everyone else).
    *
    * Integer-exact: sums fold in DECIMAL(38,0), every mean is the
    * sign-split floor ppm division the engine uses everywhere, so
    * negative metrics floor identically cross-engine. Requires ≥ 2
    * groups (ablating the only group leaves an undefined mean — raised
    * loudly, never NULL).
    *
    * Scale shape: ONE map-side-combinable (sum, count) aggregate on
    * the group key, one single-row global fold attached back as the
    * documented one-row broadcast class. State = |groups|, shuffle =
    * |groups| partials; nothing else moves at any corpus size.
    *
    * @return (`groupCol`, n, group_mean_ppm, overall_mean_ppm,
    *         loo_mean_ppm, delta_ppm) — delta_ppm = loo − overall
    */
  def ablateGroups(df: DataFrame, groupCol: String,
                   valueExpr: Column): DataFrame = {
    def floorPpm(num: String, den: String): Column = expr(
      s"""CASE WHEN $num >= 0 THEN ($num * 1000000) div $den
         |ELSE -((-($num) * 1000000 + $den - 1) div $den) END""".stripMargin)
      .cast("long")
    val per = df
      .select(col(groupCol).as("__g"), valueExpr.cast("long").as("__v"))
      .groupBy(col("__g"))
      .agg(count(lit(1)).as("n"),
        sum(col("__v").cast("decimal(38,0)")).as("__s"))
    val tot = per.agg(sum(col("n")).as("__tn"),
      sum(col("__s")).as("__ts"), count(lit(1)).as("__ng"))
    per.crossJoin(tot) // one-row scalar attach (documented BNLJ class)
      // the guard rides on an OUTPUT column — a free-standing check
      // column would be pruned and the raise would never fire
      .withColumn("n",
        when(col("__ng") < 2, raise_error(
          lit("ablateGroups: need at least 2 groups (ablating the only group leaves no mean)")))
          .otherwise(col("n")))
      .select(col("__g").as(groupCol), col("n"),
        floorPpm("__s", "n").as("group_mean_ppm"),
        floorPpm("__ts", "__tn").as("overall_mean_ppm"),
        floorPpm("(__ts - __s)", "(__tn - n)").as("loo_mean_ppm"),
        (floorPpm("(__ts - __s)", "(__tn - n)") -
          floorPpm("__ts", "__tn")).as("delta_ppm"))
  }


  /** X213: 2-D Pareto skyline — the rows no other row dominates (≥ in
    * both objectives, > in at least one), both objectives MAXIMIZED
    * (negate/shift to minimize). The multi-objective selection primitive
    * (Börzsönyi, Kossmann & Stocker, "The Skyline Operator", ICDE 2001)
    * a curator reaches for when two scores trade off — quality vs
    * length, relevance vs recency — and any single weighted blend would
    * bake in an arbitrary exchange rate: the skyline IS the set of
    * defensible picks.
    *
    * Duplicate points (equal in BOTH objectives) dominate nothing and
    * all survive together — the deterministic convention, pinned in
    * spec. `xExpr` must be ≥ 0 (loud — it keys the bucket grid, the
    * [[graft.ops.Sketches.qsketchCells]] domain discipline); `yExpr`
    * is any long.
    *
    * Scale shape — the classic sort-based skyline needs one GLOBAL
    * x-sort with a running y-max: a single-task window at corpus scale.
    * This decomposes it: (1) a map-side-combinable collapse to distinct
    * (bucket, x) rows with their y-max, buckets = log-linear qsketch
    * cells of x (≤ ~1k, value-disjoint and ordered); (2) the
    * cross-bucket running max on the ≤ ~1k-row bucket frame (the
    * documented sketch-size window); (3) a per-bucket window over
    * DISTINCT x only; (4) one broadcast-size join back. A row is
    * dominated iff some strictly-greater-x row has y' ≥ y (read off
    * (2)+(3)) or an equal-x row has y' > y (read off (1)) — nothing
    * scales past the distinct-(bucket, x) frame but the first collapse.
    *
    * @return (`idCol`, x, y) — the undominated rows
    */
  def skyline2D(df: DataFrame, idCol: String, xExpr: Column,
                yExpr: Column, subBits: Int = 4): DataFrame = {
    require(subBits >= 1 && subBits <= 16,
      s"skyline2D needs 1 <= subBits <= 16, got $subBits")
    import org.apache.spark.sql.expressions.Window
    val x0 = xExpr.cast("long")
    val base = df.select(col(idCol).as("__id"),
        when(x0 < 0, raise_error(concat(
          lit("skyline2D: objective x must be >= 0 (it keys the bucket "
            + "grid) — shift it: "), x0.cast("string"))))
          .otherwise(x0).as("__x"),
        yExpr.cast("long").as("__y"))
      .withColumn("__e", when(col("__x") === 0L, lit(-1L))
        .otherwise(length(bin(col("__x"))).cast("long") - 1L))
      .withColumn("__m",
        expr(s"shiftright(__x, cast(greatest(__e - $subBits, 0L) AS int))"))
      .localCheckpoint(eager = false) // forked: distinct-x frame + join back
    // (1) collapse to distinct (bucket, x): per-x y-max — partial-agg
    // map-side combine does the heavy lifting here
    val xs = base.groupBy(col("__e"), col("__m"), col("__x"))
      .agg(max(col("__y")).as("__ymax"))
      .localCheckpoint(eager = false) // forked: bucket frame + two windows
    // (2) bucket-level running max from strictly HIGHER buckets (bucket
    // value-ranges are disjoint + ordered, so higher bucket => x' > x)
    val wB = Window.orderBy(col("__e").desc, col("__m").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val bmax = xs.groupBy(col("__e"), col("__m"))
      .agg(max(col("__ymax")).as("__bm"))
      .withColumn("__above", max(col("__bm")).over(wB))
      .drop("__bm")
    // (3) within-bucket running max over distinct x, strictly greater
    val wX = Window.partitionBy(col("__e"), col("__m"))
      .orderBy(col("__x").desc).rowsBetween(Window.unboundedPreceding, -1)
    val marks = xs
      .withColumn("__within", max(col("__ymax")).over(wX))
      .join(broadcast(bmax), Seq("__e", "__m"), "left")
    // (4) broadcast-size: |marks| = distinct (bucket, x) — join back
    base
      .join(marks, Seq("__e", "__m", "__x"))
      .filter(!(coalesce(col("__above"), lit(Long.MinValue)) >= col("__y") ||
        coalesce(col("__within"), lit(Long.MinValue)) >= col("__y") ||
        col("__ymax") > col("__y")))
      .select(col("__id").as(idCol), col("__x").as("x"), col("__y").as("y"))
  }
}
