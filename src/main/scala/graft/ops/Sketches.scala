package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFeatures

/** Mergeable distinct-count sketches for corpus statistics at 100 TB.
  *
  * The KMV (k-minimum-values) sketch (Bar-Yossef et al. 2002; the
  * bottom-k variant surveyed in Beyer et al., "On synopses for
  * distinct-value estimation under multiset operations", SIGMOD 2007)
  * keeps the k smallest distinct hash values per group: if hashes are
  * uniform on [0, M), the k-th smallest value h(k) estimates the
  * distinct count as (k-1) · M / h(k). Unlike HyperLogLog it is exactly
  * reproducible from a deterministic hash — which is what makes it
  * DuckDB-oracle-checkable — and the per-group state (k longs) is
  * mergeable by a min-merge, so partial aggregation works map-side.
  *
  * Physical shape: distinct (group, hash) pairs → per-group bottom-k
  * via a rank window. Spark pushes the per-partition bottom-k ahead of
  * the final window (WindowGroupLimit), so the shuffle carries at most
  * k rows per (partition, group) — never the full distinct set.
  */
object Sketches {

  /** Quadratic 2-universal strengthening of the polynomial hash:
    * (a·h² + b·h) mod p. The raw polynomial fold is fine as an equality
    * key but terrible as an ORDER STATISTIC — structured inputs
    * (shared prefixes, numeric suffixes) land in narrow bands, and KMV
    * reads the bottom of the range, exactly where the bands lie. The
    * quadratic family (Carter–Wegman) spreads near-collinear inputs:
    * consecutive h, h+δ separate by ≈ 2ahδ mod p. Not a bijection
    * (x and −x−b/a collide), which costs the sketch nothing.
    */
  def mix(h: Column): Column = {
    val p = TextFeatures.HashMod
    ((lit(48271L) * ((h * h) % p)) % p + (lit(16807L) * h) % p) % p
  }

  /** Per-group KMV distinct estimate of `valueExpr` values.
    *
    * The estimate is emitted as a floor-quantized long
    * ((k-1)·M DIV h(k) — pure integer arithmetic, bit-exact on any
    * engine). Groups with fewer than k distinct values report their
    * exact count (the sketch is exact below saturation).
    */
  def kmvDistinct(df: DataFrame, groupCol: String, valueExpr: Column,
                  k: Int = 64): DataFrame = {
    kmvFromHashed(df
      .select(col(groupCol), TextFeatures.charHash(valueExpr).as("__h"))
      .distinct(), // one shuffle: distinct (group, hash)
      groupCol, "__h", k)
  }

  /** Count-min sketch over the corpus token stream (Cormode &
    * Muthukrishnan 2005): `depth` hash rows × `width` counter cells;
    * every token increments one cell per row; a token's frequency
    * estimate is the MIN of its `depth` cells — an overestimate by at
    * most the collision mass, never an underestimate.
    *
    * Why it fits this engine: the whole sketch is ≤ depth·width longs
    * no matter the corpus size, and building it is a single
    * `groupBy(row, cell).count` — map-side combinable, so each of 1000
    * executors ships one tiny partial matrix, not its token stream.
    * Row hashes are the same affine-over-polyhash family as the MinHash
    * signatures ((2j+3)·h + (5j+7) mod p), deterministic and
    * DuckDB-reproducible.
    *
    * @return (j, cell, cnt) — the sketch matrix, at most depth·width rows
    */
  def countMinCells(docs: DataFrame, textCol: String,
                    depth: Int = 3, width: Int = 512): DataFrame =
    countMinCellsOf(
      docs.select(explode(TextFeatures.tokens(col(textCol))).as("__k")),
      col("__k"), depth, width)

  /** [[countMinCells]] generalized to ANY key expression (one sketch
    * increment per input ROW): the shared builder for token streams,
    * join keys, and ids. */
  def countMinCellsOf(df: DataFrame, keyExpr: Column,
                      depth: Int = 3, width: Int = 512): DataFrame = {
    val p = TextFeatures.HashMod
    df
      .select(TextFeatures.charHash(keyExpr.cast("string")).as("__h"))
      .select(explode(array((0 until depth).map(j =>
        struct(lit(j).as("j"),
          (((lit(2L * j + 3) * col("__h") + lit(5L * j + 7)) % p) % width)
            .as("cell"))): _*)).as("__jc"))
      .groupBy(col("__jc.j").as("j"), col("__jc.cell").as("cell"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** X115: sketch-based join-cardinality estimate — |A ⋈ B on key| via
    * the count-min INNER PRODUCT (Cormode & Muthukrishnan 2005 §4.2:
    * est_j = Σ_cell cmA[j]·cmB[j], estimate = min over rows j; an
    * overestimate, never under), reported NEXT TO the exact
    * Σ_k cA(k)·cB(k) so the error is visible. This is the pre-flight
    * statistic the salting decision (X105's profile, X15's salted
    * join) wants when the key tables themselves are too big to join
    * eagerly: the sketch side touches each input ONCE map-side and
    * ships ≤ depth·width longs per executor.
    *
    * Products lift to DECIMAL(38,0) before summing — two 10¹⁰-count
    * cells would overflow a Long multiply at 100 TB key volumes.
    *
    * @return one row: (exact, cm_est, err_ppm ≥ 0)
    */
  def cmJoinCardinality(a: DataFrame, aKey: Column, b: DataFrame, bKey: Column,
                        depth: Int = 3, width: Int = 512): DataFrame = {
    val ca = countMinCellsOf(a, aKey, depth, width)
      .select(col("j"), col("cell"), col("cnt").as("__na"))
    val cb = countMinCellsOf(b, bKey, depth, width)
      .select(col("j"), col("cell"), col("cnt").as("__nb"))
    // A sketch row with NO overlapping cells has inner product 0 but
    // drops out of the equi-join — if any of the `depth` rows is
    // missing, the true minimum is 0, not the min of the present rows.
    val est = ca.join(cb, Seq("j", "cell"))
      .groupBy(col("j"))
      .agg(sum(expr("cast(__na as decimal(38,0)) * __nb")).as("__ip"))
      .agg(coalesce(when(count(lit(1)) === depth, min(col("__ip"))), lit(0))
        .cast("decimal(38,0)").as("cm_est"))
    val ka = a.select(aKey.cast("string").as("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("__ca"))
    val kb = b.select(bKey.cast("string").as("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("__cb"))
    val exact = ka.join(kb, Seq("k"))
      .agg(coalesce(sum(expr("cast(__ca as decimal(38,0)) * __cb")), lit(0))
        .cast("decimal(38,0)").as("exact"))
    exact.crossJoin(est)
      .select(col("exact").cast("long").as("exact"),
        col("cm_est").cast("long").as("cm_est"),
        when(col("exact") > 0,
          expr("((cm_est - exact) * 1000000) div exact").cast("long"))
          .as("err_ppm"))
  }

  /** Heavy-hitter report: per-token count-min estimate next to the
    * exact count (est ≥ exact always; equal when the token's cells are
    * collision-free). The estimate side only touches the ≤ depth·width
    * cell matrix — broadcast-sized — so the join adds no shuffle of the
    * corpus; the exact side is the usual token groupBy, kept here
    * because the report IS the sketch-vs-truth surface.
    *
    * @return (token, exact_cnt, cm_est) for tokens with exact_cnt ≥ minCount
    */
  def countMinHeavyHitters(docs: DataFrame, textCol: String,
                           depth: Int = 3, width: Int = 512,
                           minCount: Long = 1L): DataFrame = {
    val p = TextFeatures.HashMod
    val cells = countMinCells(docs, textCol, depth, width)
    val probes = docs
      .select(explode(TextFeatures.tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("exact_cnt"))
      .filter(col("exact_cnt") >= minCount)
      .withColumn("__h", TextFeatures.charHash(col("token")))
      .select(col("token"), col("exact_cnt"), explode(array((0 until depth).map(j =>
        struct(lit(j).as("j"),
          (((lit(2L * j + 3) * col("__h") + lit(5L * j + 7)) % p) % width)
            .as("cell"))): _*)).as("__jc"))
      .select(col("token"), col("exact_cnt"),
        col("__jc.j").as("j"), col("__jc.cell").as("cell"))
    probes
      .join(broadcast(cells), Seq("j", "cell"))
      .groupBy("token", "exact_cnt")
      .agg(min("cnt").as("cm_est"))
      .select(col("token"), col("exact_cnt"), col("cm_est"))
  }

  /** Pairwise corpus-overlap estimation from KMV sketches (Beyer et
    * al. SIGMOD 2007 §4, multiset-operation synopses): for every pair
    * of groups, pool the two bottom-k sketches, re-take the bottom-k of
    * the pooled DISTINCT values, and estimate Jaccard as the fraction
    * of pooled values present in BOTH sketches. The corpus is touched
    * exactly once (the distinct (group, hash) shuffle); everything
    * pairwise happens on k-row frames — |groups|²·k rows at worst —
    * which is what makes "how much do these 50 corpora overlap"
    * answerable at 100 TB without a single corpus-vs-corpus join.
    *
    * Integer-exact: the estimate is quantized ppm
    * (n_common·10⁶ DIV n_pool). Mix collisions collapse to one pooled
    * value identically on both engines (the sketch is a SET of mixed
    * values).
    *
    * @return (g_a < g_b, n_pool, n_common, jaccard_ppm) per group pair
    *
    * NOTE the deliberate semantic split with [[kmvFromHashed]]: that
    * estimator ranks the MULTISET of mixed values (collision ties keep
    * n_kept/h(k) well-defined for the distinct-count formula), while
    * this one dedups to a SET first (pool membership is set algebra).
    * A change to [[mix]] or the tie handling must be checked against
    * BOTH paths — they share the hash family on purpose.
    */
  def kmvPairwiseJaccard(df: DataFrame, groupCol: String, valueExpr: Column,
                         k: Int = 64): DataFrame = {
    require(k >= 2, "KMV needs k >= 2")
    val sk = df
      .select(col(groupCol).as("g"), TextFeatures.charHash(valueExpr).as("__h"))
      .distinct()
      .select(col("g"), mix(col("__h")).as("__mx"))
      .distinct() // sketch is a SET of mixed values
      .withColumn("__rnk", row_number().over(
        Window.partitionBy("g").orderBy(col("__mx").asc)))
      .filter(col("__rnk") <= k)
      .select(col("g"), col("__mx"))
      .localCheckpoint(eager = false) // read by pairs, pool, both probes
    val groups = sk.select(col("g")).distinct()
    val pairs = groups.select(col("g").as("g_a"))
      .crossJoin(groups.select(col("g").as("g_b")))
      .filter(col("g_a") < col("g_b"))
    val pooled = pairs.join(sk.select(col("g").as("g_a"), col("__mx")), Seq("g_a"))
      .unionByName(
        pairs.join(sk.select(col("g").as("g_b"), col("__mx")), Seq("g_b"))
          .select(col("g_a"), col("g_b"), col("__mx")))
      .distinct()
      .withColumn("__rnk", row_number().over(
        Window.partitionBy("g_a", "g_b").orderBy(col("__mx").asc)))
      .filter(col("__rnk") <= k)
    pooled
      .join(sk.select(col("g").as("g_a"), col("__mx"), lit(1L).as("__ina")),
        Seq("g_a", "__mx"), "left")
      .join(sk.select(col("g").as("g_b"), col("__mx"), lit(1L).as("__inb")),
        Seq("g_b", "__mx"), "left")
      .groupBy(col("g_a"), col("g_b"))
      .agg(count(lit(1)).as("n_pool"),
        sum(coalesce(col("__ina"), lit(0L)) * coalesce(col("__inb"), lit(0L)))
          .as("n_common"))
      .withColumn("jaccard_ppm", expr("n_common * 1000000 DIV n_pool"))
  }

  /** The sketch over an already-hashed, already-distinct (group, hash)
    * frame — the seam for callers that reuse the distinct pairs for
    * other statistics (one shuffle feeds both). Ranks by [[mix]] of the
    * hash; a mix collision at the rank-k boundary ties on the ranked
    * VALUE, so n_kept/h(k) — and the estimate — stay deterministic.
    */
  def kmvFromHashed(hashed: DataFrame, groupCol: String, hashCol: String,
                    k: Int = 64): DataFrame = {
    require(k >= 2, "KMV needs k >= 2")
    val ranked = hashed
      .select(col(groupCol), mix(col(hashCol)).as("__mx"))
      .withColumn("__rnk", row_number().over(
        Window.partitionBy(groupCol).orderBy(col("__mx").asc)))
    ranked
      .filter(col("__rnk") <= k)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("__n"), max(col("__mx")).as("__hk"))
      .select(col(groupCol),
        col("__n").as("n_kept"),
        when(col("__n") < k, col("__n")) // below saturation: exact
          .otherwise(expr(s"(${k - 1} * ${TextFeatures.HashMod}L) DIV __hk"))
          .as("kmv_est"))
  }

  /** X66: HyperLogLog-family register table — the fixed-size mergeable
    * distinct sketch next to KMV. Where KMV keeps the bottom-k hash
    * VALUES (state k longs, exact below saturation), the register
    * sketch keeps, per group, 2^p byte-sized maxima (state 2^p
    * SMALL ints regardless of cardinality) and estimates from their
    * distribution — the shape every production engine (Druid, Presto,
    * BigQuery) ships for streaming COUNT DISTINCT.
    *
    * Register definition (deterministic, engine-neutral): for each
    * value, h = mix(polyhash(v)); bucket = h mod 2^p; r = h div 2^p;
    * rho = (trailing zeros of r) + 1, or [[MaxRho]] when r = 0 — the
    * Flajolet–Martin bit-pattern observable. Register(bucket) =
    * MAX(rho) — map-side combinable, mergeable across executors,
    * batches, and streams under any order.
    *
    * Trailing zeros spell as bit_count((r & -r) - 1) — pure integer
    * ops, identical in Spark and DuckDB, no floating point anywhere.
    *
    * @return (`groupCol`, bucket, register) — at most 2^p rows per group
    */
  def hllRegisters(df: DataFrame, groupCol: String, valueExpr: Column,
                   p: Int = 6): DataFrame =
    hllRhoRows(df, groupCol, valueExpr, p)
      .groupBy(col(groupCol), col("bucket"))
      .agg(max(col("__rho")).as("register"))

  /** The per-value (group, bucket, rho) projection shared by the batch
    * register aggregate and the streaming twin. The bucket split
    * divides by 2^p, so the double-typed `/` is exact (mantissa of a
    * sub-2^30 hash shifts, nothing rounds) before the floor cast. */
  private[graft] def hllRhoRows(df: DataFrame, groupCol: String,
                                valueExpr: Column, p: Int): DataFrame = {
    require(p >= 2 && p <= 14, "hllRegisters needs 2 <= p <= 14")
    val m = 1L << p
    val h = mix(TextFeatures.charHash(valueExpr))
    val r = (h / m).cast("long")
    val rho = when(r === 0L, lit(MaxRho.toLong))
      .otherwise(least(lit(MaxRho.toLong),
        bit_count(r.bitwiseAND(-r) - 1).cast("long") + 1L))
    df.select(col(groupCol), (h % m).as("bucket"), rho.as("__rho"))
  }

  /** Upper bound on a register value: mix() < 2^30, so after the p-bit
    * bucket split at most 30 significant bits remain. */
  val MaxRho: Int = 30

  /** Integer-exact estimate from a register table: the harmonic-mean
    * HLL formula with every division a floor DIV. A register's 2^-M
    * weight is the INTEGER 2^(MaxRho − M) on the 2^MaxRho scale
    * (M ≤ MaxRho by construction), so the harmonic sum — and the
    * estimate — is bit-identical on any engine and any merge order;
    * alpha = 0.709 (m = 64) enters as the rational 709/1000. Empty
    * buckets contribute 2^0 = full weight, as in the original
    * estimator. Worst-case numerator 709·m²·2^MaxRho ≈ 3.1e15 at
    * p = 6 — comfortably inside a long.
    *
    * @return (`groupCol`, n_occupied, est) — one row per group
    */
  def hllEstimate(registers: DataFrame, groupCol: String, p: Int = 6): DataFrame = {
    val m = 1L << p
    val full = 1L << MaxRho
    registers
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_occupied"),
        sum(expr(s"shiftleft(1L, cast($MaxRho - register AS int))")).as("__s"))
      .select(col(groupCol), col("n_occupied"),
        expr(s"(709 * $m * $m * ${full}L) DIV " +
          s"(1000 * (__s + ($m - n_occupied) * ${full}L))").as("est"))
  }

  /** X196: HLL set-overlap matrix — "how much do these sources /
    * cohorts / shards share?" answered from the SKETCHES alone, no
    * exact dedup pass: HLL registers union by per-bucket max (the
    * register table's native merge), so |A∪B| gets the same
    * integer-exact estimate as the singles, and inclusion-exclusion
    * prices the intersection and Jaccard — THE audience-overlap /
    * corpus-contamination triage at 100 TB, where the exact pairwise
    * answer would be a self-join nobody runs first.
    *
    * Estimates, not counts — the intersection difference inherits both
    * sketches' error and clamps at 0; use the exact overlap operators
    * (X74, X80) on the pairs this matrix flags. Deterministic: the
    * register merge is a max (order-free) and every division is the
    * floor DIV the singles use.
    *
    * Scale: pairwise work is |groups|²·m register rows (the
    * histogram-drift pairing discipline) — comparing 50 shards never
    * rescans a corpus; the register table is the only input.
    *
    * @return (g_a < g_b, est_a, est_b, est_union, est_intersect,
    *         jaccard_est_ppm)
    */
  def hllOverlap(registers: DataFrame, groupCol: String,
                 p: Int = 6): DataFrame = {
    val m = 1L << p
    val full = 1L << MaxRho
    val regs = registers.withColumnRenamed(groupCol, "g")
      .localCheckpoint(eager = false) // forked: singles + two pair probes
    val singles = hllEstimate(regs, "g", p)
      .select(col("g"), col("est"))
      .localCheckpoint(eager = false) // probed twice (a side + b side)
    val groups = regs.select(col("g")).distinct()
    val pairs = groups.select(col("g").as("g_a"))
      .crossJoin(groups.select(col("g").as("g_b")))
      .filter(col("g_a") < col("g_b"))
    val unioned = pairs
      .join(regs.select(col("g").as("g_a"), col("bucket"), col("register")),
        Seq("g_a"))
      .unionByName(pairs
        .join(regs.select(col("g").as("g_b"), col("bucket"), col("register")),
          Seq("g_b"))
        .select(col("g_a"), col("g_b"), col("bucket"), col("register")))
      .groupBy(col("g_a"), col("g_b"), col("bucket"))
      .agg(max(col("register")).as("register"))
    unioned
      .groupBy(col("g_a"), col("g_b"))
      .agg(count(lit(1)).as("__occ"),
        sum(expr(s"shiftleft(1L, cast($MaxRho - register AS int))")).as("__s"))
      .select(col("g_a"), col("g_b"),
        expr(s"(709 * $m * $m * ${full}L) DIV " +
          s"(1000 * (__s + ($m - __occ) * ${full}L))").as("est_union"))
      .join(singles.select(col("g").as("g_a"), col("est").as("est_a")),
        Seq("g_a"))
      .join(singles.select(col("g").as("g_b"), col("est").as("est_b")),
        Seq("g_b"))
      .select(col("g_a"), col("g_b"), col("est_a"), col("est_b"),
        col("est_union"),
        greatest(lit(0L), col("est_a") + col("est_b") - col("est_union"))
          .as("est_intersect"))
      .withColumn("jaccard_est_ppm",
        when(col("est_union") === 0, lit(0L))
          .otherwise(expr("(est_intersect * 1000000) DIV est_union")))
  }

  /** X178: log-linear histogram quantile sketch — the bounded-state,
    * mergeable quantile tier next to KMV (cardinality) and count-min
    * (frequency). The q56 exact-quantile compaction reads every
    * distinct value; at 100 TB a latency histogram can have billions
    * of distinct values, and THIS is the structure that caps the state
    * instead: the HdrHistogram / DDSketch bucket family (Masson et al.,
    * "DDSketch: a fast and fully-mergeable quantile sketch", VLDB
    * 2019), spelled deterministically on integers so it is bit-exact
    * on any engine — where DDSketch buckets by a floating log, this
    * sketch buckets by the BINARY exponent (exact: the length of the
    * value's binary spelling) plus the top `subBits` mantissa bits.
    *
    * Cell key for v ≥ 1: e = bitlen(v) − 1, m = v >> max(e − subBits, 0)
    * (v = 0 gets the sentinel cell (−1, 0)). Cell extent is
    * [m << shift, (m+1) << shift) with shift = max(e − subBits, 0), so
    * every cell's relative width is ≤ 2^−subBits — the sketch's
    * whole error contract. Per group the live cells number at most
    * 1 + 2^subBits·(64 − subBits) (≈ 1 k at subBits = 4) no matter how
    * many rows went in; counts add, so partial aggregation map-side
    * combines and sketches of shards merge by summing cnt — the same
    * mergeability contract the other two sketches carry.
    *
    * Negative values raise loudly (the [[graft.ops.ZOrder]] domain
    * discipline) — a signed metric must be shifted by its caller,
    * because a silent two's-complement bitlen would interleave
    * negatives above positives.
    *
    * @return (`groupCol`, e, m, cnt) — the sketch, ≤ ~2^subBits·64 rows/group
    */
  def qsketchCells(df: DataFrame, groupCol: String, valueExpr: Column,
                   subBits: Int = 4): DataFrame =
    qsketchKeyRows(df, groupCol, valueExpr, subBits)
      .groupBy(col(groupCol), col("e"), col("m"))
      .agg(count(lit(1)).as("cnt"))

  /** [[qsketchCells]] with a per-row weight: cnt = Σ weight instead of
    * a row count, so [[qsketchQuantiles]] reads WEIGHTED quantiles —
    * "the p90 document length by TOKENS CONTRIBUTED, not by document
    * count", the curation view where one 100k-token doc outweighs a
    * thousand stubs. Weights must be non-negative longs (negative
    * weights would make the cumulative non-monotone and the quantile
    * read meaningless — raised loudly); zero-weight rows keep their
    * cell alive with cnt contribution 0, harmless to the read side.
    * Same bounded-cell and sum-merge contracts as the unweighted build.
    */
  def qsketchCellsWeighted(df: DataFrame, groupCol: String, valueExpr: Column,
                           weightExpr: Column, subBits: Int = 4): DataFrame = {
    val w0 = weightExpr.cast("long")
    val w = when(w0 < 0,
      raise_error(concat(lit("qsketch weight out of [0, 2^63): "),
        w0.cast("string"))))
      .otherwise(w0)
    qsketchKeyRows(df.withColumn("__qw", w), groupCol, valueExpr, subBits,
        carry = Seq("__qw"))
      .groupBy(col(groupCol), col("e"), col("m"))
      .agg(sum(col("__qw")).as("cnt"))
  }

  /** The per-value (group, e, m) cell projection shared by the batch
    * sketch and the streaming twin — one codegen'd expression, no
    * shuffle of its own. */
  private[graft] def qsketchKeyRows(df: DataFrame, groupCol: String,
                                    valueExpr: Column, subBits: Int,
                                    carry: Seq[String] = Nil): DataFrame = {
    require(subBits >= 1 && subBits <= 16,
      s"qsketch needs 1 <= subBits <= 16, got $subBits")
    val v0 = valueExpr.cast("long")
    val v = when(v0 < 0,
      raise_error(concat(lit("qsketch value out of [0, 2^63): "),
        v0.cast("string"))))
      .otherwise(v0)
    val kept = carry.map(col)
    df.select(col(groupCol) +: v.as("__v") +: kept: _*)
      .withColumn("e", when(col("__v") === 0L, lit(-1L))
        .otherwise(length(bin(col("__v"))).cast("long") - 1L))
      .withColumn("__sh", greatest(col("e") - subBits, lit(0L)))
      .select(col(groupCol) +: col("e") +:
        expr("shiftright(__v, cast(__sh AS int))").as("m") +: kept: _*)
  }

  /** Quantile estimates read off a [[qsketchCells]] sketch: for each
    * requested percentile, the first cell (in (e, m) order) whose
    * cumulative count reaches ceil(pct·n/100) — the type-1 inverse
    * CDF on the cell grid. The true pct-quantile provably lies inside
    * the chosen cell, so `est ≤ q_true < est + width` and the relative
    * error is ≤ 2^−subBits (pinned in SketchesSpec against exact
    * quantiles). The ceil comparison is cross-multiplied
    * (cum·100 ≥ pct·n) — no division anywhere — and runs in
    * DECIMAL(38,0): a long cum·100 would wrap past n ≈ 9.2·10^16,
    * silently disagreeing with a 128-bit SQL engine; the lift costs
    * nothing because the frame is the ≤ ~1 k-cell sketch.
    *
    * Physical shape: the q56 compact-below-the-window discipline by
    * construction — both windows read the SKETCH (≤ ~1 k rows/group),
    * never the corpus; the percentile fan-out is a literal-array
    * explode; the pick is a struct-min aggregate, not a second window.
    *
    * Degenerate weighted input: a group whose cells sum to n = 0 (all
    * weights zero) reports its SMALLEST cell with n = 0 for every
    * percentile — 0 ≥ ceil(pct·0/100) holds everywhere, so the
    * struct-min picks the first cell, identically on any engine.
    *
    * @param cells a [[qsketchCells]] frame (or any cnt-sum merge of several)
    * @return (`groupCol`, pct, n, est, width) — one row per (group, pct)
    */
  def qsketchQuantiles(cells: DataFrame, groupCol: String,
                       pcts: Seq[Int], subBits: Int = 4): DataFrame = {
    require(pcts.nonEmpty && pcts.forall(p => p >= 1 && p <= 100),
      s"percentiles must be in [1, 100]: $pcts")
    val byCell = Window.partitionBy(groupCol).orderBy(col("e").asc, col("m").asc)
    val whole = Window.partitionBy(groupCol)
    cells
      .withColumn("__cum", sum(col("cnt")).over(byCell))
      .withColumn("__n", sum(col("cnt")).over(whole))
      .select(col(groupCol), col("e"), col("m"), col("__cum"), col("__n"),
        explode(array(pcts.map(p => lit(p.toLong)): _*)).as("pct"))
      .filter(col("__cum").cast("decimal(38,0)") * 100 >=
        col("pct").cast("decimal(38,0)") * col("__n"))
      .groupBy(col(groupCol), col("pct"))
      .agg(min(struct(col("e"), col("m"))).as("__c"),
        max(col("__n")).as("n"))
      .select(col(groupCol), col("pct"), col("n"),
        expr(s"shiftleft(__c.m, cast(greatest(__c.e - $subBits, 0L) AS int))")
          .as("est"),
        expr(s"shiftleft(1L, cast(greatest(__c.e - $subBits, 0L) AS int))")
          .as("width"))
  }

  /** X218: exact heavy hitters through a Misra–Gries candidate pass —
    * "which items appear at least `minCount` times" priced WITHOUT a
    * full groupBy over the value domain. Pass 1 folds the corpus into
    * one ≤ k-counter [[graft.functions.MgSummaryAgg]] summary (bounded
    * state, map-side combinable); the MG merge guarantee (Misra–Gries
    * 1982; Agarwal et al., PODS 2012) is that any item with true
    * frequency > N/(k+1) survives, so with the loudly-checked
    * precondition minCount·(k+1) > N the candidate set has ZERO false
    * negatives. Pass 2 recounts ONLY the candidates — a broadcast
    * semi-join (≤ k rows) plus a partial-combining count — and filters
    * at the exact threshold, so the output is the exact answer,
    * deterministic under any partitioning even though MG's internal
    * counter values are order-dependent.
    *
    * The 100 TB shape this replaces: groupBy(value).count() over a
    * token-scale domain shuffles |distinct| keys to find the handful of
    * heavy ones; here the shuffle after pass 1 is one ≤ k-entry summary
    * per partition, and pass 2's aggregate only ever sees candidate
    * rows. The driver holds ≤ k candidate strings — bounded by
    * construction, the documented collect discipline.
    *
    * @param df       input frame
    * @param value    item expression (cast to string)
    * @param k        MG counter budget; N/(k+1) is the candidate bound
    * @param minCount exact output threshold; must exceed N/(k+1) or the
    *                 no-false-negative guarantee is void (loud raise)
    * @return (item, cnt) — exactly the items with cnt >= minCount
    */
  def heavyHittersExact(df: DataFrame, value: Column, k: Int,
                        minCount: Long): DataFrame = {
    require(minCount >= 1, s"minCount must be positive: $minCount")
    val (recount, n) = mgRecount(df, value, k)
    require(BigInt(minCount) * (k + 1) > BigInt(n),
      s"heavyHittersExact: minCount=$minCount must exceed N/(k+1) = " +
        s"$n/${k + 1} or items can silently miss the candidate set — " +
        "raise k or minCount")
    recount.filter(col("cnt") >= minCount)
  }

  /** [[heavyHittersExact]] with a RELATIVE threshold — items holding at
    * least `sharePpm` of the corpus — so one parameterization stays
    * valid from the sf0.001 fixture to 100 TB (an absolute minCount
    * stops satisfying its own guarantee the moment N grows past
    * minCount·(k+1)). Guarantee check is N-free: sharePpm·(k+1) > 10⁶
    * ⟺ every qualifying item's frequency sharePpm·N/10⁶ strictly
    * exceeds the MG bound N/(k+1). The threshold comparison is the
    * cross-multiplied integer cnt·10⁶ ≥ sharePpm·N (N ≤ 9·10¹²
    * loudly enforced — both sides sit inside a long with room).
    *
    * @return (item, cnt) — exactly the items with cnt/N >= sharePpm/10⁶
    */
  def heavyHittersByShare(df: DataFrame, value: Column, k: Int,
                          sharePpm: Long): DataFrame = {
    require(sharePpm >= 1 && sharePpm <= 1000000,
      s"sharePpm must sit in [1, 1000000]: $sharePpm")
    require(BigInt(sharePpm) * (k + 1) > BigInt(1000000),
      s"heavyHittersByShare: sharePpm=$sharePpm needs k+1 > 1e6/sharePpm " +
        s"= ${1000000.0 / sharePpm} (got k=$k) or items can silently " +
        "miss the candidate set")
    val (recount, n) = mgRecount(df, value, k)
    require(n <= 9000000000000L,
      s"heavyHittersByShare: N=$n past the 9e12 cross-multiply bound")
    recount.filter(col("cnt") * 1000000L >= lit(sharePpm) * lit(n))
  }

  /** X221: WEIGHTED exact heavy hitters — "which domains/sources hold
    * at least `sharePpm` of the corpus' total weight (tokens, bytes,
    * cost)", the domain-capping / mixture-budget precursor at 100 TB.
    * Same two-pass shape as [[heavyHittersByShare]] with the weighted
    * Misra–Gries candidate summary ([[graft.functions.MgWeightedAgg]];
    * Berinde et al. TODS 2010 carry the N/(k+1) guarantee over to
    * total weight W), then an exact weighted recount over the ≤ k
    * candidates. Guarantee check is W-free: sharePpm·(k+1) > 10⁶.
    * Weights must be positive (zero-weight rows are meaningless here
    * and a negative weight breaks the MG guarantee — the aggregate
    * raises loudly); W ≤ 9·10¹² bounds the cross-multiply.
    *
    * @return (item, w) — exactly the items with w/W >= sharePpm/10⁶
    */
  def heavyHittersByWeightShare(df: DataFrame, value: Column, weight: Column,
                                k: Int, sharePpm: Long): DataFrame = {
    require(sharePpm >= 1 && sharePpm <= 1000000,
      s"sharePpm must sit in [1, 1000000]: $sharePpm")
    require(BigInt(sharePpm) * (k + 1) > BigInt(1000000),
      s"heavyHittersByWeightShare: sharePpm=$sharePpm needs k+1 > " +
        s"1e6/sharePpm = ${1000000.0 / sharePpm} (got k=$k) or items can " +
        "silently miss the candidate set")
    val vals = df.select(value.cast("string").as("item"),
        weight.cast("long").as("__w"))
      .filter(col("item").isNotNull && col("__w").isNotNull)
      .localCheckpoint(eager = false) // forked: summary pass + recount pass
    val head = vals
      .agg(expr(s"graft_mgw(item, __w, $k)").as("cands"),
        sum(col("__w")).as("w"))
      .head()
    val w = if (head.isNullAt(1)) 0L else head.getLong(1)
    require(w <= 9000000000000L,
      s"heavyHittersByWeightShare: W=$w past the 9e12 cross-multiply bound")
    val cands = head.getSeq[org.apache.spark.sql.Row](0).map(_.getString(0))
    import df.sparkSession.implicits._
    val candDf = cands.toDF("item") // <= k rows by construction
    vals.join(broadcast(candDf), Seq("item"))
      .groupBy(col("item"))
      .agg(sum(col("__w")).as("w"))
      .filter(col("w") * 1000000L >= lit(sharePpm) * lit(w))
  }

  /** Shared two-pass body: MG candidate summary (+ total N) then the
    * exact broadcast-semi-join recount over the ≤ k candidates. */
  private def mgRecount(df: DataFrame, value: Column,
                        k: Int): (DataFrame, Long) = {
    val vals = df.select(value.cast("string").as("item"))
      .filter(col("item").isNotNull)
      .localCheckpoint(eager = false) // forked: summary pass + recount pass
    val head = vals
      .agg(expr(s"graft_mg(item, $k)").as("cands"), count(lit(1)).as("n"))
      .head()
    val n = head.getLong(1)
    val cands = head.getSeq[org.apache.spark.sql.Row](0).map(_.getString(0))
    import df.sparkSession.implicits._
    val candDf = cands.toDF("item") // <= k rows by construction
    (vals.join(broadcast(candDf), Seq("item"))
      .groupBy(col("item"))
      .agg(count(lit(1)).as("cnt")), n)
  }
}
