package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding similarity search (SURVEY §7.6): brute-force cosine top-k
  * as the exact baseline, sign-LSH bucketing as the scale path. The
  * cosine is an ordered left-to-right double fold over the vector —
  * deterministic, and reproducible bit-for-bit by a DuckDB list_reduce.
  */
object Similarity {

  /** dot(a,b) in double precision, index order — the native codegen'd
    * [[graft.functions.DotProductExpr]] (same fold order as the HOF
    * spelling `aggregate(zip_with(...))`, so bit-identical results, at
    * compiled-loop speed), resolved through [[graft.functions.GraftSparkExtensions]]. */
  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2norm(a) * l2norm(b))

  /** Exact top-k neighbors for each query vector: broadcast the (small)
    * query set against the corpus, rank by (similarity desc, id asc) —
    * the id tiebreak makes near-equal similarities deterministic.
    * One pass over the corpus per job, no corpus self-join.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", cosine(col("__qv"), col("__cv")))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id").asc))
        .cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cosine"))
  }

  /** Sign-LSH bucket id over `planes` consecutive dimensions starting
    * at 0-based `offset`: bit i set iff vec[offset+i] > 0. A stand-in
    * for random-hyperplane LSH with axis-aligned planes — deterministic
    * and engine-neutral. Disjoint offsets give INDEPENDENT plane sets,
    * the building block of OR-amplified multi-band LSH. */
  def signBucketAt(vec: Column, planes: Int, offset: Int): Column =
    aggregate(
      transform(sequence(lit(0), lit(planes - 1)), i =>
        // try_element_at: a vector shorter than offset+planes yields
        // NULL > 0 = NULL → bit 0 — same as SQL list indexing out of
        // range, so short vectors bucket on their existing dims only.
        when(try_element_at(vec, i + offset + 1) > 0,
          call_function("shiftleft", lit(1L), i)).otherwise(0L)),
      lit(0L), (acc, v) => acc + v)

  def signBucket(vec: Column, planes: Int): Column = signBucketAt(vec, planes, 0)

  /** Approximate top-k: candidates limited to the query's sign bucket
    * (shuffle on bucket id = equi-join, never a cross join). Recall is
    * traded for a |corpus|/2^planes-sized candidate set per query; at
    * 100 TB the bucket count scales with `planes` at zero extra passes.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, planes: Int = 8): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
      signBucket(col(vecCol), planes).as("__bucket"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
      signBucket(col(vecCol), planes).as("__bucket"))
    c.join(broadcast(q), Seq("__bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", cosine(col("__qv"), col("__cv")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id").asc))
        .cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cosine"))
  }

  /** X114: multi-probe sign-LSH kNN (Lv et al. VLDB'07's idea on the
    * axis-sign family) — the recall knob that does NOT cost another
    * index: each query probes its own bucket plus every bucket at
    * Hamming distance 1 (one sign bit flipped), so near neighbors that
    * straddle a single hyperplane are recovered. Candidates grow by at
    * most (planes+1)× — still an equi-join on bucket ids, never a
    * cross join, and the corpus side is untouched (same buckets,
    * nothing re-indexed: the probe expansion is query-side literals).
    *
    * Candidate pairs are DISTINCT before ranking (a neighbor can
    * arrive through several probes; duplicate rows would corrupt
    * row_number ranks), then vectors join back by id for the cosine.
    */
  def multiProbeTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, k: Int, planes: Int = 8): DataFrame = {
    val masks = array((Seq(0L) ++ (0 until planes).map(i => 1L << i))
      .map(lit(_)): _*)
    val q0 = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
      signBucket(col(vecCol), planes).as("__b0"))
    val probes = q0.select(col("query_id"), explode(masks).as("__m"),
        col("__b0"))
      .select(col("query_id"), expr("__b0 ^ __m").as("__bucket"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
      signBucket(col(vecCol), planes).as("__bucket"))
    val cand = c.select(col("neighbor_id"), col("__bucket"))
      .join(broadcast(probes), Seq("__bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"))
      .distinct()
    cand
      .join(q0.select(col("query_id"), col("__qv")), Seq("query_id"))
      .join(c.select(col("neighbor_id"), col("__cv")), Seq("neighbor_id"))
      .withColumn("cosine", cosine(col("__qv"), col("__cv")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id").asc))
        .cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cosine"))
  }

  /** IVF-style ANN. Coarse quantizer: the first `nlist` corpus vectors
    * (by id) act as fixed centroids — deterministic, no iterative
    * k-means (iteration order would be engine-dependent); a production
    * deployment would plug trained centroids into the same shape. Every
    * vector is assigned to its max-cosine centroid (id tiebreak); a
    * query probes its `nprobe` nearest centroids and brute-forces only
    * those inverted lists — candidate volume |corpus|·nprobe/nlist.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, nlist: Int = 16, nprobe: Int = 2): DataFrame = {
    val seeds = corpus.filter(col(idCol) < nlist)
      .select(col(idCol).as("cid"), col(vecCol).as("__ce"))
    def nearest(df: DataFrame, id: String, vec: String, n: Int): DataFrame =
      df.crossJoin(broadcast(seeds))
        .withColumn("__c", cosine(col(vec), col("__ce")))
        .withColumn("__rn", row_number().over(
          Window.partitionBy(id).orderBy(col("__c").desc, col("cid").asc)))
        .filter(col("__rn") <= n)
        .select(col(id), col(vec), col("cid"))
    val assigned = nearest(
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv")),
      "neighbor_id", "__cv", 1)
    val probes = nearest(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv")),
      "query_id", "__qv", nprobe)
    assigned.join(broadcast(probes), Seq("cid"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", cosine(col("__qv"), col("__cv")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id").asc))
        .cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cosine"))
  }

  /** Candidate pairs for embedding near-dup detection: multi-band
    * OR-amplified sign-LSH with a per-bucket size cap.
    *
    * Real embedding corpora are strongly correlated — a single sign
    * band concentrates a large fraction of vectors into one bucket, and
    * a bucket equi-join then degenerates to near-quadratic on that hot
    * key (a legitimate key match AQE cannot split). Two defenses:
    *  - `bands` independent plane sets over DISJOINT dimension ranges;
    *    a pair is a candidate if it collides in ANY band (union +
    *    distinct = OR-amplification, which also recovers recall that a
    *    capped band loses);
    *  - buckets holding more than `bucketCap` members are excluded from
    *    pair generation entirely (the standard hot-bucket cap: such a
    *    bucket carries almost no similarity signal for axis-sign LSH,
    *    and its members still pair through their other bands). Candidate
    *    volume is hence ≤ bands · Σ_bucket min(|bucket|, cap)² — bounded
    *    sub-quadratic regardless of skew.
    */
  def nearDupCandidates(corpus: DataFrame, idCol: String, vecCol: String,
                        planes: Int = 8, bands: Int = 2,
                        bucketCap: Long = 10000L): DataFrame = {
    // One row per (vector, band). Materialized: the bucket fold is an
    // interpreted HOF and the frame is read twice (size agg + join).
    val banded = corpus.select(col(idCol).as("id"), col(vecCol).as("v"),
        posexplode(array((0 until bands).map(j =>
          signBucketAt(col(vecCol), planes, j * planes)): _*)))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "bucket"))
      .localCheckpoint()
    val smallBuckets = banded.groupBy("band", "bucket")
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") <= bucketCap)
      .select(col("band"), col("bucket"))
    val ok = banded.join(smallBuckets, Seq("band", "bucket"))
    val a = ok.select(col("band"), col("bucket"), col("id").as("id_a"), col("v").as("v_a"))
    val b = ok.select(col("band"), col("bucket"), col("id").as("id_b"), col("v").as("v_b"))
    a.join(b, Seq("band", "bucket")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("v_a"), col("v_b"))
      .distinct()
  }

  /** Embedding-cosine near-duplicate pairs: capped multi-band sign-LSH
    * candidates, then exact cosine ≥ threshold (id_a < id_b). */
  def nearDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
                   threshold: Double, planes: Int = 8, bands: Int = 2,
                   bucketCap: Long = 10000L): DataFrame =
    nearDupCandidates(corpus, idCol, vecCol, planes, bands, bucketCap)
      .withColumn("cosine", cosine(col("v_a"), col("v_b")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))

  /** Banded (band, bucket, id, v) sign-LSH index frame of a corpus —
    * [[nearDupStep]]'s persistable state: |corpus|·bands rows, keyed by
    * the hash bucket, shard-mergeable by plain union. The embedding
    * analogue of the dedup tier's band/window indexes. */
  def nearDupIndex(corpus: DataFrame, idCol: String, vecCol: String,
                   planes: Int = 8, bands: Int = 2): DataFrame = {
    corpus.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"),
        posexplode(array((0 until bands).map(j =>
          signBucketAt(col(vecCol), planes, j * planes)): _*)))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "bucket"))
      .select(col("band"), col("bucket"), col("id"), col("v"))
  }

  /** The empty banded index a fresh corpus starts from. */
  def emptyNearDupIndex(spark: org.apache.spark.sql.SparkSession,
                        elementType: org.apache.spark.sql.types.DataType =
                          org.apache.spark.sql.types.FloatType): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("band", IntegerType),
        StructField("bucket", LongType), StructField("id", LongType),
        StructField("v", ArrayType(elementType)))))
  }

  /** X193: incremental embedding near-dup — the per-arrival step of
    * [[nearDupPairs]], the same production shape as the incremental
    * text-dedup and self-scrub steps: each new vector probes the
    * persisted banded index with ONE (band, bucket) equi-join (history
    * is never re-bucketed), pairs within the batch the same way, exact
    * cosine gates both, and the grown index comes back for the next
    * arrival. Under the increasing-id arrival contract the union of
    * step outputs IS the one-shot pair set (spec-pinned over random
    * batch cuts; out-of-order ids keep earlier-arrival-wins pair
    * orientation).
    *
    * Hot-bucket discipline: this step is cap-free by design — the
    * arrival batch is small; the CAP belongs where the index is built
    * or compacted (the one-shot path's `bucketCap`), not silently
    * inside the probe where it would make sequential ≠ one-shot.
    *
    * @return pairs (id_a = earlier, id_b = newer, cosine ≥ threshold)
    *         and the grown index
    */
  def nearDupStep(newVecs: DataFrame, index: DataFrame, idCol: String,
                  vecCol: String, threshold: Double, planes: Int = 8,
                  bands: Int = 2): IncrementalNearDup = {
    val banded = nearDupIndex(newVecs, idCol, vecCol, planes, bands)
      .localCheckpoint(eager = false) // forked: cross probe + within + growth
    val cross = banded
      .join(index.select(col("band"), col("bucket"),
        col("id").as("id_a"), col("v").as("v_a")), Seq("band", "bucket"))
      .select(col("id_a"), col("id").as("id_b"), col("v_a"), col("v").as("v_b"))
      .distinct()
    val a = banded.select(col("band"), col("bucket"),
      col("id").as("id_a"), col("v").as("v_a"))
    val b = banded.select(col("band"), col("bucket"),
      col("id").as("id_b"), col("v").as("v_b"))
    val within = a.join(b, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("v_a"), col("v_b"))
      .distinct()
    val pairs = cross.unionByName(within)
      .withColumn("cosine", cosine(col("v_a"), col("v_b")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
    IncrementalNearDup(pairs, index.unionByName(banded))
  }

  final case class IncrementalNearDup(pairs: DataFrame, index: DataFrame)

  /** X121: hard-negative mining — per query, the top-k most similar
    * corpus vectors that are NOT near-duplicates of it: the highest-
    * value negatives for contrastive/retrieval training (in-batch
    * randoms are too easy; near-dups would be false negatives and
    * poison the loss). Exclusion uses the SAME LSH-bucketed near-dup
    * pair set the dedup path trusts ([[nearDupPairs]] at
    * `dupThreshold`), so "too similar to be a negative" and
    * "duplicate" are one definition, applied in both directions of
    * each pair.
    *
    * Shape: the scored candidates are one corpus pass against the
    * broadcast query set (the X6 brute-force discipline — queries are
    * small by contract); the dup exclusion is a LEFT ANTI join on the
    * symmetrized pair keys BEFORE the rank window, so excluded rows
    * never inflate the top-k.
    *
    * @return (query_id, neighbor_id, rnk, cosine): top `k` by
    *         (cosine DESC, neighbor ASC), self and near-dups excluded
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, k: Int,
                    dupThreshold: Double = 0.99): DataFrame = {
    val dup = nearDupPairs(corpus, idCol, vecCol, dupThreshold)
    val dupKeys = dup.select(col("id_a").as("query_id"), col("id_b").as("neighbor_id"))
      .unionByName(dup.select(col("id_b").as("query_id"), col("id_a").as("neighbor_id")))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
      .crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .join(dupKeys, Seq("query_id", "neighbor_id"), "left_anti")
      .withColumn("cosine", cosine(col("__qv"), col("__cv")))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id").asc))
        .cast("long"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk"), col("cosine"))
  }

  /** X138: ANN recall@k report — the evaluation harness that
    * justifies an approximate index before it gates production
    * retrieval (the kNN sibling of X111's dedup calibration): per
    * query, how many of the exact brute-force top-k did the LSH path
    * return? Run it on a sample, read the recall, THEN pick
    * planes/probes — the parameter-tuning loop every ANN deployment
    * needs and almost none oracle-check.
    *
    * Pure composition: [[bruteForceTopK]] is the truth set,
    * [[lshTopK]] the candidate set, one semi-join + per-query count;
    * the denominator is the ACTUAL truth size (< k on tiny corpora),
    * and zero-hit queries surface with recall 0 instead of vanishing
    * (left join against the truth-side query list).
    *
    * @return (query_id, n_truth, n_hit, recall_ppm)
    */
  def annRecallReport(corpus: DataFrame, queries: DataFrame, idCol: String,
                      vecCol: String, k: Int): DataFrame = {
    val truth = bruteForceTopK(corpus, queries, idCol, vecCol, k)
      .select(col("query_id"), col("neighbor_id"))
      .localCheckpoint(eager = false) // forked: denominators + hit join
    val approx = lshTopK(corpus, queries, idCol, vecCol, k)
      .select(col("query_id"), col("neighbor_id"))
    val hits = truth.join(approx, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
    truth.groupBy(col("query_id")).agg(count(lit(1)).as("n_truth"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), col("n_truth"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .withColumn("recall_ppm", expr("n_hit * 1000000 DIV n_truth"))
  }

  /** X191: matryoshka dimension sweep — "how many dimensions can we
    * afford to store?" answered with a measured recall table instead
    * of a guess (the MRL deployment decision, Kusupati NeurIPS'22):
    * for each candidate prefix width d, the exact top-k under
    * truncated cosine is graded against the full-width truth, exactly
    * like [[annRecallReport]] grades the LSH path. A 4× storage /
    * bandwidth / cache saving is real money at 10⁹ vectors; this is
    * the table that prices its recall cost.
    *
    * ONE corpus×queries pass scores every width (the pair frame is
    * the dominant cost — the slice-cosines ride it together via one
    * explode); per-(width, query) top-k through the same
    * WindowGroupLimit-pushed rank the brute-force baseline uses;
    * micro-averaged rollup per width. Queries are a broadcast sample
    * by contract (the X6 discipline).
    *
    * @return (dims, n_truth, n_hit, recall_ppm) — one row per width
    */
  def matryoshkaRecall(corpus: DataFrame, queries: DataFrame, idCol: String,
                       vecCol: String, k: Int, dims: Seq[Int]): DataFrame = {
    require(dims.nonEmpty && dims.forall(_ >= 1),
      s"matryoshka widths must be positive: $dims")
    // slice() silently clamps an oversized width to the full vector, so
    // an out-of-domain dims entry would report full-width recall —
    // raise loudly instead, consistent with the house discipline
    val maxDim = dims.max
    val checked = (v: Column) => when(size(v) < maxDim, raise_error(concat(
      lit(s"matryoshkaRecall: width $maxDim exceeds stored embedding length "),
      size(v).cast("string")))).otherwise(v)
    val truth = bruteForceTopK(corpus, queries, idCol, vecCol, k)
      .select(col("query_id"), col("neighbor_id"))
      .localCheckpoint(eager = false) // forked: hit join + denominator
    val q = queries.select(col(idCol).as("query_id"), checked(col(vecCol)).as("__qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), checked(col(vecCol)).as("__cv"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        explode(array(dims.map(d => struct(lit(d.toLong).as("dims"),
          cosine(slice(col("__qv"), 1, d), slice(col("__cv"), 1, d))
            .as("cos"))): _*)).as("__s"))
      .select(col("query_id"), col("neighbor_id"),
        col("__s.dims").as("dims"), col("__s.cos").as("cos"))
    val approx = scored
      .withColumn("rank", row_number().over(
        Window.partitionBy("dims", "query_id")
          .orderBy(col("cos").desc, col("neighbor_id").asc)))
      .filter(col("rank") <= k)
      .select(col("dims"), col("query_id"), col("neighbor_id"))
    val hits = truth.join(approx, Seq("query_id", "neighbor_id"))
      .groupBy(col("dims")).agg(count(lit(1)).as("n_hit"))
    truth.agg(count(lit(1)).as("n_truth"))
      .select(explode(array(dims.map(d => lit(d.toLong)): _*)).as("dims"),
        col("n_truth"))
      .join(hits, Seq("dims"), "left")
      .select(col("dims"), col("n_truth"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .withColumn("recall_ppm",
        when(col("n_truth") === 0, lit(0L))
          .otherwise(expr("n_hit * 1000000 DIV n_truth")))
  }

  /** X132: Maximal Marginal Relevance selection (Carbonell & Goldstein
    * SIGIR'98) — the relevance-AND-diversity top-k that prompt-set and
    * eval-set curation needs where plain kNN returns k near-copies:
    * greedily pick argmax of λ·rel(x) − (1−λ)·max_{s∈picked} sim(x, s),
    * rel = cosine to the query vector, sim = cosine to a prior pick.
    * [[graft.ops.Clustering.farthestPointSeeds]] is the λ=0 corner of
    * this operator; [[graft.ops.Curation.maxCoverSelect]] is its
    * lexical (shingle-gain) sibling.
    *
    * Determinism: cosines are the ordered-double-fold [[dot]] (bit-
    * exact in the DuckDB oracle), λ enters as the exact double
    * `lambdaHundredths/100` with its complement computed the same way
    * on both sides (0.7 and 0.3 as literals — never 1−0.7, whose
    * rounding differs from the 0.3 literal), ties break by id ASC.
    *
    * Scale shape: one corpus materialization scanned k times; each
    * round is a pure projection (picked vectors inlined as literals —
    * k·dims driver state, the broadcast-model contract) into a
    * TakeOrdered argmax (per-partition top-1, 1-row driver merge).
    * Rounds are a caller constant, so total cost is k corpus passes —
    * the greedy-selection floor.
    *
    * @return (rnk, vec_id, rel, score) — fewer than k rows when the
    *         corpus runs out
    */
  def mmrSelect(corpus: DataFrame, idCol: String, vecCol: String,
                queryVec: Array[Float], k: Int,
                lambdaHundredths: Int = 70): DataFrame = {
    require(k >= 1, s"non-positive k: $k")
    require(lambdaHundredths >= 0 && lambdaHundredths <= 100,
      s"lambda out of [0, 100]: $lambdaHundredths")
    val spark = corpus.sparkSession
    val lam = lambdaHundredths / 100.0
    val oneMinus = (100 - lambdaHundredths) / 100.0
    val src = corpus
      .select(col(idCol).as("vec_id"), col(vecCol).as("v"),
        cosine(col(vecCol), lit(queryVec)).as("rel"))
      .localCheckpoint() // scanned once per round
    var picks = Vector.empty[(Long, Array[Float], Double, Double)]
    var exhausted = false
    while (picks.size < k && !exhausted) {
      val remaining =
        if (picks.isEmpty) src
        else src.join(
          broadcast(spark.createDataFrame(picks.map(p => Tuple1(p._1)))
            .toDF("vec_id")), Seq("vec_id"), "left_anti")
      val sims = picks.map(p => cosine(col("v"), lit(p._2)))
      val score =
        if (sims.isEmpty) lit(lam) * col("rel")
        else lit(lam) * col("rel") - lit(oneMinus) *
          (if (sims.size == 1) sims.head else greatest(sims: _*))
      val top = remaining.select(col("vec_id"), col("v"), col("rel"),
          score.as("score"))
        .orderBy(col("score").desc, col("vec_id").asc).limit(1)
        .collect()
      if (top.isEmpty) exhausted = true
      else {
        val r = top.head
        picks :+= ((r.getLong(0), r.getSeq[Float](1).toArray,
          r.getDouble(2), r.getDouble(3)))
      }
    }
    import spark.implicits._
    picks.zipWithIndex
      .map { case ((id, _, rel, sc), i) => (i + 1L, id, rel, sc) }
      .toDF("rnk", "vec_id", "rel", "score")
  }

  /** Deterministic ±1 random projection (Achlioptas 2003's database-
    * friendly JL variant, sign-random-projection when only the bit
    * pattern is kept): project each embedding onto `outDims` pseudo-
    * random ±1 hyperplanes. Unlike [[signBucketAt]]'s axis-aligned
    * planes, every projection mixes ALL input dimensions, so the output
    * preserves pairwise geometry (JL) instead of sampling coordinates —
    * the right reduction when downstream kNN must run at a fraction of
    * the input width.
    *
    * Engine-neutral by construction: embeddings are floor-quantized to
    * longs (scale 1e6) and the plane entry for flat index i = j·dims+d
    * is +1 iff bit 16 of the LCG value i·1103515245 + 12345 is 0 — the
    * multiplier is odd, so bit 16 cycles through a balanced ±1 pattern
    * with period 2¹⁷; everything after the one float multiply is exact
    * integer arithmetic a SQL oracle reproduces verbatim. |proj| ≤
    * dims · 1e6 · max|x|, so any |x| < 1e11/dims is overflow-safe —
    * far beyond normalized-embedding magnitudes.
    *
    * Pure per-row projection: no shuffle, no driver state, the plane
    * matrix never materializes (it is arithmetic on the flat index).
    *
    * @param dims    input width (vectors shorter than `dims` read as 0
    *                beyond their length)
    * @param outDims projected width, 1..62 (the signature packs one bit
    *                per plane into a long)
    * @return (`idCol`, srp_sig, pos, proj): one row per (vector, plane);
    *         `proj` is the quantized projection onto plane `pos`,
    *         `srp_sig` packs the `outDims` sign bits
    */
  /** X172: kNN label agreement — the confident-learning-style label
    * NOISE detector: for each labeled point, the share of its nearest
    * neighbors carrying the same label; a point whose neighborhood
    * disagrees is a mislabel candidate (or sits on a genuine class
    * boundary — either way, the row a curator reviews first). Takes
    * ANY neighbor frame — brute-force ([[bruteForceTopK]]), LSH
    * ([[lshTopK]]), IVF — so the scale path is whatever ANN tier the
    * corpus already earned; this operator itself is two id-key joins
    * (AQE-planned) and one map-side-combinable per-query fold.
    *
    * @param neighbors (query_id, neighbor_id) pairs from any kNN op
    * @return (query_id, label, n_neighbors, n_agree, agree_ppm,
    *         suspect) — suspect = 1 when agree_ppm < `minAgreePpm`
    */
  def labelAgreement(neighbors: DataFrame, labels: DataFrame, idCol: String,
                     labelCol: String, minAgreePpm: Long): DataFrame = {
    require(minAgreePpm >= 0 && minAgreePpm <= 1000000L,
      s"agreement threshold out of [0, 1e6]: $minAgreePpm")
    val lab = labels.select(col(idCol).as("__id"),
      col(labelCol).cast("string").as("__l"))
    neighbors.select(col("query_id"), col("neighbor_id"))
      .join(lab.select(col("__id").as("query_id"), col("__l").as("__ql")),
        Seq("query_id"))
      .join(lab.select(col("__id").as("neighbor_id"), col("__l").as("__nl")),
        Seq("neighbor_id"))
      .groupBy(col("query_id"), col("__ql"))
      .agg(count(lit(1)).as("n_neighbors"),
        sum((col("__nl") === col("__ql")).cast("long")).as("n_agree"))
      .select(col("query_id"), col("__ql").as("label"), col("n_neighbors"),
        col("n_agree"),
        expr("(n_agree * 1000000) div n_neighbors").as("agree_ppm"))
      .withColumn("suspect", (col("agree_ppm") < minAgreePpm).cast("long"))
  }

  def randomProject(df: DataFrame, idCol: String, vecCol: String,
                    dims: Int, outDims: Int): DataFrame = {
    require(dims >= 1, s"dims must be >= 1, got $dims")
    require(outDims >= 1 && outDims <= 62,
      s"outDims must be in [1, 62], got $outDims")
    // Projection runs as the native codegen'd loop ([[JlProjectExpr]])
    // — bit-identical to the HOF spelling it replaced, but one flat
    // compiled pass instead of dims·outDims interpreted tree nodes per
    // row (and per CONSUMER: projection collapse re-evaluated the HOF
    // nest for each reference; measured 9.4 → 0.5 s on q84 at sf0.1).
    df.select(col(idCol),
        call_function("graft_jlproject", col(vecCol),
          lit(dims), lit(outDims)).as("__pr"))
      .localCheckpoint(eager = false) // forked: sig fold + posexplode
      .select(col(idCol),
        aggregate(sequence(lit(0), lit(outDims - 1)), lit(0L), (acc, j) =>
          acc + when(try_element_at(col("__pr"), j + 1) > 0,
            call_function("shiftleft", lit(1L), j)).otherwise(0L)).as("srp_sig"),
        posexplode(col("__pr")))
      .select(col(idCol), col("srp_sig"), col("pos").cast("long").as("pos"),
        col("col").as("proj"))
  }

  /** X93: SemDeDup — semantic deduplication by clustering first, then
    * exact pairwise cosine ONLY within each cluster (Abbas et al. 2023,
    * arXiv:2303.09540): the curation step that removes semantically
    * redundant documents an exact/MinHash dedup can't see. A document
    * is dropped when some LOWER-id cluster-mate sits within `tauMilli`
    * cosine — keep-lowest-id, the deterministic survivor policy every
    * dedup operator here shares.
    *
    * The clustering IS the scale story: pairwise work collapses from
    * |corpus|² to Σ_c |cluster_c|² — with k sized ∝ corpus/target-
    * cluster-size this is linear-ish in practice (the paper runs it on
    * LAION-scale data for exactly this reason). The cluster self-join
    * is a cid-keyed equi-join; a pathological giant cluster is the
    * residual risk, the same hot-key hazard [[nearDupCandidates]]
    * documents — cap k accordingly.
    *
    * Cosine is [[cosine]]'s ordered double fold (bit-reproducible,
    * oracle-mirrored); the assignment comes from [[Clustering
    * .lloydAssign]]'s integer-exact centroid path, so the whole
    * composition hash-matches the unrolled oracle.
    *
    * @return surviving (vec_id, cid) rows — input minus semantic dupes
    */
  def semanticDedup(corpus: DataFrame, idCol: String, vecCol: String,
                    k: Int, iters: Int, tauMilli: Long): DataFrame = {
    require(tauMilli > 0 && tauMilli <= 1000,
      s"tauMilli is a cosine in milli-units (0, 1000]: $tauMilli")
    val assigned = Clustering.lloydAssign(corpus, idCol, vecCol, k, iters)
      .select(col(idCol).as("vec_id"), col("cid").cast("long").as("cid"))
    val members = assigned
      .join(corpus.select(col(idCol).as("vec_id"), col(vecCol).as("__v")),
        Seq("vec_id"))
      .localCheckpoint(eager = false) // forked: both sides of the self-join
    val dropped = members
      .select(col("cid"), col("vec_id").as("ida"), col("__v").as("va"))
      .join(members.select(col("cid"), col("vec_id").as("idb"), col("__v").as("vb")),
        Seq("cid"))
      .filter(col("ida") < col("idb"))
      .filter(cosine(col("va"), col("vb")) >= lit(tauMilli.toDouble / 1000.0))
      .select(col("idb").as("vec_id")).distinct()
    assigned.join(dropped, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cid"))
  }
}
