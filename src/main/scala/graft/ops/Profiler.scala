package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distribution profiling for corpus audits: per-group discrete
  * quantiles (the "what does p99 doc length look like per language"
  * question every curation run starts with).
  *
  * DISCRETE quantiles (a value that occurs in the data, chosen by rank
  * arithmetic), not interpolated ones: interpolation is float math with
  * engine-specific association, while the rank formula
  * `ceil(n·p/100)` is pure integers — the same row is chosen by any
  * engine, which makes the result oracle-checkable bit-for-bit.
  *
  * Physical shape: the rows first COMPACT to (group, value, count) —
  * a map-side-combinable aggregate — and only that compacted frame
  * enters the sort window, which walks cumulative counts instead of
  * raw rows. The window's input is |distinct values| per group, not
  * |rows|: a 10⁹-row group with 10⁴ distinct doc lengths sorts 10⁴
  * rows in its window task. That is the standard exact-quantile
  * compaction, and the one defense a rank window has against group
  * skew at 100 TB (a window partition cannot be split; an aggregate's
  * partial phase can). Requested percentiles then explode per
  * compacted row and a codegen'd filter keeps the value whose
  * cumulative-count interval covers the target rank — by construction
  * the SAME value the row-level rank formula selects, so the oracle's
  * ROW_NUMBER spelling is untouched.
  */
object Profiler {

  /** @param pcts integer percentiles in (0, 100].
    * @return (group, pct, value) — one row per group × percentile.
    *
    * No tiebreak column: equal values collapse into one compacted row,
    * and the quantile contract returns the VALUE, so row identity at a
    * boundary never escapes — rank arithmetic over cumulative counts is
    * layout-independent by construction.
    */
  def discreteQuantiles(df: DataFrame, groupCol: String, valueCol: Column,
                        pcts: Seq[Int]): DataFrame = {
    require(pcts.nonEmpty && pcts.forall(p => p > 0 && p <= 100),
      "percentiles must lie in (0, 100]")
    val cum = Window.partitionBy(groupCol).orderBy(col("value").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy(groupCol)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    df.select(col(groupCol), valueCol.as("value"))
      .groupBy(col(groupCol), col("value"))
      .agg(count(lit(1)).as("__c"))
      .withColumn("__cum", sum(col("__c")).over(cum))
      .withColumn("__n", sum(col("__c")).over(all))
      .select(col(groupCol), col("value"), col("__c"), col("__cum"), col("__n"),
        explode(lit(pcts.toArray)).as("pct"))
      // target rank r = ceil(n·p/100) = (n·p + 99) DIV 100; the chosen
      // value is the one whose cumulative interval (__cum-__c, __cum]
      // contains r — identical to the row the per-row rank filter picks.
      .filter(col("__cum") >= expr("(__n * pct + 99) DIV 100") &&
        col("__cum") - col("__c") < expr("(__n * pct + 99) DIV 100"))
      .select(col(groupCol), col("pct").cast("long").as("pct"), col("value"))
  }

  /** Histogram cells (group, bin, cnt) at fixed `binWidth` — the
    * MERGEABLE quantile state. Counters add under any partitioning,
    * batch order, or stream trigger (a plain streaming groupBy carries
    * them as bounded state), and state is |occupied bins| per group —
    * bounded by value-range/binWidth, independent of row count. This is
    * the sketch-path complement of [[discreteQuantiles]]: exact
    * quantiles compact to |distinct values|; the histogram caps state at
    * a constant chosen up front, the only shape that survives a stream
    * or a merge tree of 10⁵ partitions. Bin = value DIV binWidth
    * (truncation toward zero, identical in Spark / DuckDB / BigInt);
    * intended for the non-negative metrics a corpus audit profiles
    * (lengths, counts) — the [bin_lo, bin_hi] bracket is exact for
    * v ≥ 0.
    */
  def histogramCells(df: DataFrame, groupCol: String, valueCol: Column,
                     binWidth: Long): DataFrame = {
    require(binWidth > 0, "binWidth must be positive")
    df.select(col(groupCol), valueCol.as("__v"))
      .select(col(groupCol), expr(s"__v DIV $binWidth").as("bin"))
      .groupBy(col(groupCol), col("bin"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Approximate quantiles from histogram cells: the same
    * cumulative-interval rank walk as [[discreteQuantiles]], but over
    * bins — the answer brackets the true quantile within one bin
    * ([bin_lo, bin_hi], width = binWidth). Split so a persisted or
    * streaming cell state reads through the identical path as batch.
    *
    * @return (group, pct, bin_lo, bin_hi) — one row per group × pct.
    */
  def histogramQuantilesFromCells(cells: DataFrame, groupCol: String,
                                  pcts: Seq[Int], binWidth: Long): DataFrame = {
    require(pcts.nonEmpty && pcts.forall(p => p > 0 && p <= 100),
      "percentiles must lie in (0, 100]")
    val cum = Window.partitionBy(groupCol).orderBy(col("bin").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy(groupCol)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cells
      .withColumn("__cum", sum(col("cnt")).over(cum))
      .withColumn("__n", sum(col("cnt")).over(all))
      .select(col(groupCol), col("bin"), col("cnt"), col("__cum"), col("__n"),
        explode(lit(pcts.toArray)).as("pct"))
      .filter(col("__cum") >= expr("(__n * pct + 99) DIV 100") &&
        col("__cum") - col("cnt") < expr("(__n * pct + 99) DIV 100"))
      .select(col(groupCol), col("pct").cast("long").as("pct"),
        (col("bin") * binWidth).as("bin_lo"),
        (col("bin") * binWidth + binWidth - 1).as("bin_hi"))
  }

  /** One-call batch spelling: cells + rank walk. */
  def histogramQuantiles(df: DataFrame, groupCol: String, valueCol: Column,
                         pcts: Seq[Int], binWidth: Long): DataFrame =
    histogramQuantilesFromCells(
      histogramCells(df, groupCol, valueCol, binWidth), groupCol, pcts, binWidth)

  /** Pairwise distribution drift between groups, as the L1 distance of
    * their normalized value histograms — the drift/PSI-style monitor a
    * pipeline runs between corpus snapshots, sources, or shards
    * ("did the length distribution move?"). Shares are ppm-quantized
    * integers (cnt·10⁶ DIV n), so the statistic is bit-exact on any
    * engine; l1_ppm ranges 0 (identical histograms) to 2,000,000
    * (disjoint supports).
    *
    * Physical shape: ONE pass over the rows builds the cells (the same
    * mergeable counters as [[histogramCells]]); everything pairwise
    * runs on |groups|·|occupied bins| rows — comparing 50 snapshots
    * never rescans a corpus.
    *
    * @return (g_a < g_b, l1_ppm) per group pair
    */
  def histogramDriftPpm(df: DataFrame, groupCol: String, valueCol: Column,
                        binWidth: Long): DataFrame = {
    // cells computed ONCE: the totals aggregate and the share
    // projection both read the checkpointed frame
    val cells = histogramCells(df, groupCol, valueCol, binWidth)
      .withColumnRenamed(groupCol, "g")
      .localCheckpoint(eager = false)
    val norm = cells
      .join(cells.groupBy("g").agg(sum(col("cnt")).as("__n")), Seq("g"))
      .select(col("g"), col("bin"),
        expr("cnt * 1000000 DIV __n").as("share"))
      .localCheckpoint(eager = false) // pairs, pooled bins, both probes
    val groups = norm.select(col("g")).distinct()
    val pairs = groups.select(col("g").as("g_a"))
      .crossJoin(groups.select(col("g").as("g_b")))
      .filter(col("g_a") < col("g_b"))
    val pooled = pairs.join(norm.select(col("g").as("g_a"), col("bin")), Seq("g_a"))
      .unionByName(
        pairs.join(norm.select(col("g").as("g_b"), col("bin")), Seq("g_b"))
          .select(col("g_a"), col("g_b"), col("bin")))
      .distinct()
    pooled
      .join(norm.select(col("g").as("g_a"), col("bin"), col("share").as("__sa")),
        Seq("g_a", "bin"), "left")
      .join(norm.select(col("g").as("g_b"), col("bin"), col("share").as("__sb")),
        Seq("g_b", "bin"), "left")
      .groupBy(col("g_a"), col("g_b"))
      .agg(sum(abs(coalesce(col("__sa"), lit(0L)) - coalesce(col("__sb"), lit(0L))))
        .as("l1_ppm"))
  }

  /** X68: one-pass column profiler — the ANALYZE-style statistics sweep
    * (per-column non-null count, exact NDV, lexicographic min/max over
    * the canonical string form) every ingestion run should record. The
    * reference's run report counts rows per table (database.py's
    * execute-and-count); this is the per-COLUMN generalization a
    * warehouse needs for optimizer stats and drift baselines.
    *
    * Contract: values profile as their canonical strings (BIGINT →
    * decimal digits, identical in Spark and DuckDB), so min/max are
    * LEXICOGRAPHIC — documented, deterministic, and type-agnostic
    * (one schema for every column type). The exact-NDV aggregate is
    * the expensive honest choice (count_distinct expands each row once
    * per column); the bounded-state alternative at extreme scale is
    * [[Sketches.hllRegisters]] per column.
    *
    * Shape: ONE scan of the table — the explode fans each row into
    * |cols| (column, value) pairs inside codegen (no shuffle until the
    * aggregate), then a single groupBy on the tiny column-name key.
    *
    * @return (col_name, n_nonnull, n_distinct, min_str, max_str)
    */
  /** X73: integer CDF calibration — per group, each distinct value's
    * strictly-below cumulative share in ppm. The score-normalization
    * step before mixing heterogeneous quality signals (a raw BM25
    * score and a cosine live on different scales; their per-group CDF
    * positions are comparable), and the per-language length-percentile
    * gate in one.
    *
    * Skew-robust by the q56 discipline: the corpus compacts to
    * (group, value, count) BEFORE the window, so the window input is
    * |distinct values| per group, not |rows| — one hot group costs a
    * bounded task. The ppm is a floor DIV: engine- and
    * layout-independent.
    *
    * @return (`groupCol`, v, cnt, cdf_ppm), cdf_ppm in [0, 1e6)
    */
  def cdfPpm(df: DataFrame, groupCol: String, valueCol: Column): DataFrame = {
    val counts = df.select(col(groupCol), valueCol.cast("long").as("v"))
      .groupBy(col(groupCol), col("v")).agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(groupCol).orderBy(col("v"))
    counts
      .withColumn("__cum", sum(col("cnt")).over(w))
      .join(counts.groupBy(groupCol).agg(sum(col("cnt")).as("__n")), Seq(groupCol))
      .select(col(groupCol), col("v"), col("cnt"),
        expr("((__cum - cnt) * 1000000) DIV __n").as("cdf_ppm"))
  }

  /** X83: per-group Tukey/IQR outlier fences — the robust-range audit a
    * curation run uses to winsorize or flag per-language length tails
    * (mean/stddev fences break under the heavy-tailed distributions a
    * web corpus actually has; quartile fences don't).
    *
    * Integer-exact and division-free: quartiles come from the same
    * ceil(n·p/100) rank arithmetic as [[discreteQuantiles]] (p = 25,
    * 75), and the classic `q1 − k·IQR` fence with k = multTenths/10 is
    * evaluated as the equivalent tenths-scaled comparison
    * `10·v < 10·q1 − multTenths·(q3−q1)` — no division, no rounding
    * convention to mirror, bit-identical on any engine.
    *
    * Skew-robust by the q56 discipline: the corpus compacts ONCE to
    * (group, value, count) and that frame feeds BOTH the quantile walk
    * and the fence counting — the window input and the flag aggregate
    * are |distinct values| per group, never |rows|.
    *
    * @param multTenths fence multiplier in tenths (15 = the textbook
    *                   1.5×IQR)
    * @return (group, q1, q3, n_rows, n_below, n_above)
    */
  def iqrOutlierFences(df: DataFrame, groupCol: String, valueCol: Column,
                       multTenths: Long = 15L): DataFrame = {
    require(multTenths >= 0, "fence multiplier must be non-negative")
    val counts = df.select(col(groupCol), valueCol.cast("long").as("v"))
      .groupBy(col(groupCol), col("v")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint(eager = false) // quantile walk + fence count share it
    val cum = Window.partitionBy(groupCol).orderBy(col("v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy(groupCol)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val quartiles = counts
      .withColumn("__cum", sum(col("cnt")).over(cum))
      .withColumn("__n", sum(col("cnt")).over(all))
      .select(col(groupCol), col("v"), col("cnt"), col("__cum"), col("__n"),
        explode(lit(Array(25L, 75L))).as("pct"))
      .filter(col("__cum") >= expr("(__n * pct + 99) DIV 100") &&
        col("__cum") - col("cnt") < expr("(__n * pct + 99) DIV 100"))
      // the rank filter keeps exactly one compacted row per (group,
      // pct); min() merely extracts it into the pivoted shape
      .groupBy(col(groupCol))
      .agg(min(when(col("pct") === 25, col("v"))).as("q1"),
        min(when(col("pct") === 75, col("v"))).as("q3"))
    // |groups|-sized quartile frame joins back onto the compacted
    // counts (AQE broadcasts it); flags aggregate over distinct values
    counts.join(quartiles, Seq(groupCol))
      .groupBy(col(groupCol), col("q1"), col("q3"))
      .agg(sum(col("cnt")).as("n_rows"),
        sum(when(col("v") * 10 < col("q1") * 10
            - lit(multTenths) * (col("q3") - col("q1")), col("cnt"))
          .otherwise(lit(0L))).as("n_below"),
        sum(when(col("v") * 10 > col("q3") * 10
            + lit(multTenths) * (col("q3") - col("q1")), col("cnt"))
          .otherwise(lit(0L))).as("n_above"))
      .select(col(groupCol), col("q1"), col("q3"), col("n_rows"),
        col("n_below"), col("n_above"))
  }

  /** X197: pairwise two-sample Kolmogorov–Smirnov statistic — the
    * classical distribution-drift test next to X55's histogram L1:
    * L1 on binned shares misses a small shift spread across many bins
    * and depends on the bin width; KS is binning-free — the maximum
    * CDF gap over the EXACT value domain — and is what a statistician
    * reaches for when "did this column's distribution move between
    * snapshots/sources/shards" must hold up.
    *
    * Exact integers end to end: D = max over pooled distinct values of
    * |cumA·n_B − cumB·n_A|, reported as D·10⁶ div (n_A·n_B) — no CDF
    * fractions ever materialize, so Spark ≡ DuckDB bit-for-bit.
    *
    * Scale shape: ONE corpus pass builds the (group, value) compaction
    * (the q56 contract — windows see distinct values, never raw
    * volume); all pairwise work runs on |pairs|·|pooled distinct
    * values| rows with per-pair cum windows; comparing 50 snapshots
    * never rescans a corpus. DECIMAL(38,0) cross-products so 10¹⁴-row
    * groups cannot overflow.
    *
    * @return (g_a < g_b, n_a, n_b, ks_ppm) per group pair
    */
  def ksStatPpm(df: DataFrame, groupCol: String,
                valueExpr: Column): DataFrame = {
    val counts = df.select(col(groupCol).cast("string").as("g"),
        valueExpr.cast("long").as("v"))
      .groupBy(col("g"), col("v")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint(eager = false) // forked: totals + two pair probes
    val totals = counts.groupBy(col("g")).agg(sum(col("cnt")).as("n"))
      .localCheckpoint(eager = false) // probed twice (a side + b side)
    val groups = counts.select(col("g")).distinct()
    val pairs = groups.select(col("g").as("g_a"))
      .crossJoin(groups.select(col("g").as("g_b")))
      .filter(col("g_a") < col("g_b"))
    val pooled = pairs
      .join(counts.select(col("g").as("g_a"), col("v")), Seq("g_a"))
      .unionByName(pairs
        .join(counts.select(col("g").as("g_b"), col("v")), Seq("g_b"))
        .select(col("g_a"), col("g_b"), col("v")))
      .distinct()
    val wCum = Window.partitionBy(col("g_a"), col("g_b")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pooled
      .join(counts.select(col("g").as("g_a"), col("v"), col("cnt").as("__ca")),
        Seq("g_a", "v"), "left")
      .join(counts.select(col("g").as("g_b"), col("v"), col("cnt").as("__cb")),
        Seq("g_b", "v"), "left")
      .join(totals.select(col("g").as("g_a"), col("n").as("__na")), Seq("g_a"))
      .join(totals.select(col("g").as("g_b"), col("n").as("__nb")), Seq("g_b"))
      .withColumn("__cuma", sum(coalesce(col("__ca"), lit(0L))).over(wCum))
      .withColumn("__cumb", sum(coalesce(col("__cb"), lit(0L))).over(wCum))
      .groupBy(col("g_a"), col("g_b"), col("__na"), col("__nb"))
      .agg(max(abs(expr(
        "cast(__cuma as decimal(38,0)) * __nb - cast(__cumb as decimal(38,0)) * __na")))
        .as("__d"))
      .select(col("g_a"), col("g_b"), col("__na").as("n_a"),
        col("__nb").as("n_b"),
        expr("(__d * 1000000) div (cast(__na as decimal(38,0)) * __nb)")
          .cast("long").as("ks_ppm"))
  }

  /** X198: two-sample KS on qsketch cells — [[ksStatPpm]]'s bounded-
    * state tier, and the operator that discharges its scale contract:
    * the exact KS walks the pooled DISTINCT VALUES of each pair, which
    * for a continuous column approaches |rows| and funnels one window
    * partition; this one walks the pooled CELLS of an
    * [[graft.ops.Sketches.qsketchCells]] sketch — at most
    * ~2·2^subBits·64 rows per pair no matter how many rows went in.
    * Same exact-integer spelling (D = max |cumA·n_B − cumB·n_A| in
    * DECIMAL(38,0), one floor division at the end), just over the cell
    * grid in (e, m) order (the grid is value-ordered by construction:
    * e is the binary exponent, m the mantissa prefix).
    *
    * Error contract (spec-pinned against [[ksStatPpm]] on random
    * fixtures): cell boundaries are achievable CDF points, so
    * D_cells ≤ D_exact, and the exact sup inside a cell can exceed the
    * boundary gap by at most that cell's mass share from each side:
    * D_exact ≤ D_cells + max_cell(cnt_a/n_a + cnt_b/n_b) — with
    * subBits = 4 every cell holds ≤ 1/16 relative value width, so the
    * bracket tightens as mass spreads.
    *
    * Comparing 50 snapshots never rescans a corpus: build each
    * snapshot's sketch once (mergeable, streamable —
    * [[graft.streaming.StreamingLoad]] maintains the same cells), then
    * every pairwise probe reads sketches.
    *
    * @param cells a [[graft.ops.Sketches.qsketchCells]] frame
    *              (`groupCol`, e, m, cnt)
    * @return (g_a < g_b, n_a, n_b, ks_ppm) per group pair
    */
  def ksStatFromCells(cells: DataFrame, groupCol: String): DataFrame = {
    val counts = cells.select(col(groupCol).cast("string").as("g"),
        col("e").cast("long").as("e"), col("m").cast("long").as("m"),
        col("cnt").cast("long").as("cnt"))
      .localCheckpoint(eager = false) // forked: totals + two pair probes
    val totals = counts.groupBy(col("g")).agg(sum(col("cnt")).as("n"))
      .localCheckpoint(eager = false) // probed twice (a side + b side)
    val groups = counts.select(col("g")).distinct()
    val pairs = groups.select(col("g").as("g_a"))
      .crossJoin(groups.select(col("g").as("g_b")))
      .filter(col("g_a") < col("g_b"))
    val pooled = pairs
      .join(counts.select(col("g").as("g_a"), col("e"), col("m")), Seq("g_a"))
      .unionByName(pairs
        .join(counts.select(col("g").as("g_b"), col("e"), col("m")), Seq("g_b"))
        .select(col("g_a"), col("g_b"), col("e"), col("m")))
      .distinct()
    val wCum = Window.partitionBy(col("g_a"), col("g_b"))
      .orderBy(col("e").asc, col("m").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pooled
      .join(counts.select(col("g").as("g_a"), col("e"), col("m"),
        col("cnt").as("__ca")), Seq("g_a", "e", "m"), "left")
      .join(counts.select(col("g").as("g_b"), col("e"), col("m"),
        col("cnt").as("__cb")), Seq("g_b", "e", "m"), "left")
      .join(totals.select(col("g").as("g_a"), col("n").as("__na")), Seq("g_a"))
      .join(totals.select(col("g").as("g_b"), col("n").as("__nb")), Seq("g_b"))
      .withColumn("__cuma", sum(coalesce(col("__ca"), lit(0L))).over(wCum))
      .withColumn("__cumb", sum(coalesce(col("__cb"), lit(0L))).over(wCum))
      .groupBy(col("g_a"), col("g_b"), col("__na"), col("__nb"))
      .agg(max(abs(expr(
        "cast(__cuma as decimal(38,0)) * __nb - cast(__cumb as decimal(38,0)) * __na")))
        .as("__d"))
      .select(col("g_a"), col("g_b"), col("__na").as("n_a"),
        col("__nb").as("n_b"),
        expr("(__d * 1000000) div (cast(__na as decimal(38,0)) * __nb)")
          .cast("long").as("ks_ppm"))
  }

  /** X199: pairwise L1 drift on qsketch cells — [[histogramDriftPpm]]'s
    * bounded-state tier: the fixed-width binning trades bin count
    * against range (a latency column spanning nine decades needs 10⁹
    * unit bins or useless wide ones); the log-linear cell grid holds
    * relative width ≤ 2^−subBits across the whole range in ≤ ~1k
    * cells per group. Same exact-integer spelling as the histogram
    * tier: share = cnt·10⁶ div n per cell, L1 = Σ |share_a − share_b|
    * over the pooled cells — floor division per cell, so Spark ≡
    * DuckDB bit-for-bit and the statistic is engine-portable.
    *
    * @param cells a [[graft.ops.Sketches.qsketchCells]] frame
    *              (`groupCol`, e, m, cnt)
    * @return (g_a < g_b, l1_ppm) per group pair; l1_ppm ∈ [0, 2·10⁶]
    */
  def driftFromCells(cells: DataFrame, groupCol: String): DataFrame = {
    // the sketch is computed ONCE: totals and the share projection
    // both read the checkpointed frame (the histogramDriftPpm shape)
    val c = cells.select(col(groupCol).cast("string").as("g"),
        col("e").cast("long").as("e"), col("m").cast("long").as("m"),
        col("cnt").cast("long").as("cnt"))
      .localCheckpoint(eager = false)
    val norm = c
      .join(c.groupBy(col("g")).agg(sum(col("cnt")).as("__n")), Seq("g"))
      .select(col("g"), col("e"), col("m"),
        expr("cnt * 1000000 DIV __n").as("share"))
      .localCheckpoint(eager = false) // pairs, pooled cells, both probes
    val groups = norm.select(col("g")).distinct()
    val pairs = groups.select(col("g").as("g_a"))
      .crossJoin(groups.select(col("g").as("g_b")))
      .filter(col("g_a") < col("g_b"))
    val pooled = pairs
      .join(norm.select(col("g").as("g_a"), col("e"), col("m")), Seq("g_a"))
      .unionByName(pairs
        .join(norm.select(col("g").as("g_b"), col("e"), col("m")), Seq("g_b"))
        .select(col("g_a"), col("g_b"), col("e"), col("m")))
      .distinct()
    pooled
      .join(norm.select(col("g").as("g_a"), col("e"), col("m"),
        col("share").as("__sa")), Seq("g_a", "e", "m"), "left")
      .join(norm.select(col("g").as("g_b"), col("e"), col("m"),
        col("share").as("__sb")), Seq("g_b", "e", "m"), "left")
      .groupBy(col("g_a"), col("g_b"))
      .agg(sum(abs(coalesce(col("__sa"), lit(0L)) - coalesce(col("__sb"), lit(0L))))
        .as("l1_ppm"))
  }

  /** X200: pairwise quantile shift on qsketch cells — [[quantileShift]]
    * read off the sketch instead of the exact value compaction: each
    * group's p50/p90/… comes from
    * [[graft.ops.Sketches.qsketchQuantiles]] (true quantile provably
    * inside the reported cell, relative error ≤ 2^−subBits), and every
    * group pair reports est_b − est_a per percentile. The dashboard
    * companion to [[ksStatFromCells]]: KS says THAT the distribution
    * moved, this says WHERE (which tail, how far, in value units).
    * All reads touch the ≤ ~1k-cell sketch — never the corpus.
    *
    * @param cells a [[graft.ops.Sketches.qsketchCells]] frame
    * @return (g_a < g_b, pct, est_a, est_b, shift, width_max)
    */
  def quantileShiftFromCells(cells: DataFrame, groupCol: String,
                             pcts: Seq[Int], subBits: Int = 4): DataFrame = {
    val q = Sketches.qsketchQuantiles(cells, groupCol, pcts, subBits)
      .select(col(groupCol).cast("string").as("g"), col("pct"),
        col("est"), col("width"))
      .localCheckpoint(eager = false) // probed twice (a side + b side)
    q.select(col("g").as("g_a"), col("pct"), col("est").as("est_a"),
        col("width").as("__wa"))
      .join(q.select(col("g").as("g_b"), col("pct"), col("est").as("est_b"),
        col("width").as("__wb")), Seq("pct"))
      .filter(col("g_a") < col("g_b"))
      .select(col("g_a"), col("g_b"), col("pct"), col("est_a"), col("est_b"),
        (col("est_b") - col("est_a")).as("shift"),
        greatest(col("__wa"), col("__wb")).as("width_max"))
  }

  /** X203: pairwise rank AUC on qsketch cells — the Mann-Whitney /
    * common-language effect size P(A > B) + ½P(A = B) read off the
    * sketch: where X198's KS answers "did it move?", this answers "by
    * how much, directionally" in one probability (500000 ppm = no
    * stochastic dominance; 1e6 = A entirely above B) — the effect-size
    * number a drift ticket needs next to its test statistic, and the
    * same quantity as the group-vs-group ROC AUC.
    *
    * Within-cell mass is TIED by construction (the sketch cannot order
    * inside a cell), which is exactly the midrank convention — so the
    * statistic is the exact Mann-Whitney of the cell-censored data,
    * and its distance from the raw-data AUC is bounded by the shared
    * cell mass (the X198 bracket argument). Doubled-U integer
    * spelling: 2U_A = Σ_cells ca·(2·cumB − cb); auc = 2U·10⁶ div
    * (2·n_a·n_b), all DECIMAL(38,0).
    *
    * @param cells a [[graft.ops.Sketches.qsketchCells]] frame
    * @return (g_a < g_b, n_a, n_b, auc_ab_ppm) — P(a-value > b-value)
    *         with ties half-weighted, in ppm
    */
  def aucFromCells(cells: DataFrame, groupCol: String): DataFrame = {
    val counts = cells.select(col(groupCol).cast("string").as("g"),
        col("e").cast("long").as("e"), col("m").cast("long").as("m"),
        col("cnt").cast("long").as("cnt"))
      .localCheckpoint(eager = false) // forked: totals + two pair probes
    val totals = counts.groupBy(col("g")).agg(sum(col("cnt")).as("n"))
      .localCheckpoint(eager = false)
    val groups = counts.select(col("g")).distinct()
    val pairs = groups.select(col("g").as("g_a"))
      .crossJoin(groups.select(col("g").as("g_b")))
      .filter(col("g_a") < col("g_b"))
    val pooled = pairs
      .join(counts.select(col("g").as("g_a"), col("e"), col("m")), Seq("g_a"))
      .unionByName(pairs
        .join(counts.select(col("g").as("g_b"), col("e"), col("m")), Seq("g_b"))
        .select(col("g_a"), col("g_b"), col("e"), col("m")))
      .distinct()
    val wCum = Window.partitionBy(col("g_a"), col("g_b"))
      .orderBy(col("e").asc, col("m").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pooled
      .join(counts.select(col("g").as("g_a"), col("e"), col("m"),
        col("cnt").as("__ca")), Seq("g_a", "e", "m"), "left")
      .join(counts.select(col("g").as("g_b"), col("e"), col("m"),
        col("cnt").as("__cb")), Seq("g_b", "e", "m"), "left")
      .join(totals.select(col("g").as("g_a"), col("n").as("__na")), Seq("g_a"))
      .join(totals.select(col("g").as("g_b"), col("n").as("__nb")), Seq("g_b"))
      .withColumn("__cumb", sum(coalesce(col("__cb"), lit(0L))).over(wCum))
      .groupBy(col("g_a"), col("g_b"), col("__na"), col("__nb"))
      .agg(sum(expr(
        """cast(coalesce(__ca, 0) as decimal(38,0))
          | * (2 * __cumb - coalesce(__cb, 0))""".stripMargin)).as("__u2"))
      .select(col("g_a"), col("g_b"), col("__na").as("n_a"),
        col("__nb").as("n_b"),
        expr("(__u2 * 1000000) div (2 * cast(__na as decimal(38,0)) * __nb)")
          .cast("long").as("auc_ab_ppm"))
  }

  /** X204: pairwise two-sample chi-square on qsketch cells — the
    * homogeneity statistic completing the drift panel (L1 = total
    * share movement, KS = worst CDF gap, AUC = direction, χ² =
    * cell-count-weighted significance shape): χ² = Σ_cells
    * (ca·n_b − cb·n_a)² / ((ca+cb)·n_a·n_b), reported ×1000 (milli)
    * with the two-step floor division spelled identically on both
    * engines; dof = pooled cells − 1 rides along so a consumer can
    * feed any χ² tail table.
    *
    * Bounded loudly at 10⁸ rows per group (the X189 discipline): the
    * per-cell numerator then stays ≤ (ca+cb)·max(n)², the fold ≤
    * 2·10⁸·10¹⁶ — comfortably inside DECIMAL(38,0) with the ×1000.
    *
    * @param cells a [[graft.ops.Sketches.qsketchCells]] frame
    * @return (g_a < g_b, n_a, n_b, dof, chi2_milli)
    */
  def chi2FromCells(cells: DataFrame, groupCol: String): DataFrame = {
    val counts = cells.select(col(groupCol).cast("string").as("g"),
        col("e").cast("long").as("e"), col("m").cast("long").as("m"),
        col("cnt").cast("long").as("cnt"))
      .localCheckpoint(eager = false) // forked: totals + two pair probes
    val totals = counts.groupBy(col("g")).agg(sum(col("cnt")).as("n"))
      .withColumn("n",
        when(col("n") > 100000000L, raise_error(concat(
          lit("chi2FromCells group-size bound: 1e8 rows per group keeps "
            + "the x1000 fold inside DECIMAL(38,0) — sample the group: "),
          col("g")))).otherwise(col("n")))
      .localCheckpoint(eager = false)
    val groups = counts.select(col("g")).distinct()
    val pairs = groups.select(col("g").as("g_a"))
      .crossJoin(groups.select(col("g").as("g_b")))
      .filter(col("g_a") < col("g_b"))
    val pooled = pairs
      .join(counts.select(col("g").as("g_a"), col("e"), col("m")), Seq("g_a"))
      .unionByName(pairs
        .join(counts.select(col("g").as("g_b"), col("e"), col("m")), Seq("g_b"))
        .select(col("g_a"), col("g_b"), col("e"), col("m")))
      .distinct()
    pooled
      .join(counts.select(col("g").as("g_a"), col("e"), col("m"),
        col("cnt").as("__ca")), Seq("g_a", "e", "m"), "left")
      .join(counts.select(col("g").as("g_b"), col("e"), col("m"),
        col("cnt").as("__cb")), Seq("g_b", "e", "m"), "left")
      .join(totals.select(col("g").as("g_a"), col("n").as("__na")), Seq("g_a"))
      .join(totals.select(col("g").as("g_b"), col("n").as("__nb")), Seq("g_b"))
      .groupBy(col("g_a"), col("g_b"), col("__na"), col("__nb"))
      .agg(count(lit(1)).as("__cells"),
        sum(expr(
          """(cast(coalesce(__ca, 0) as decimal(38,0)) * __nb
            |  - cast(coalesce(__cb, 0) as decimal(38,0)) * __na)
            | * (cast(coalesce(__ca, 0) as decimal(38,0)) * __nb
            |  - cast(coalesce(__cb, 0) as decimal(38,0)) * __na)
            | div (coalesce(__ca, 0) + coalesce(__cb, 0))""".stripMargin))
          .as("__s"))
      .select(col("g_a"), col("g_b"), col("__na").as("n_a"),
        col("__nb").as("n_b"), (col("__cells") - 1L).as("dof"),
        expr("(__s * 1000) div (cast(__na as decimal(38,0)) * __nb)")
          .cast("long").as("chi2_milli"))
  }

  /** X207: hash-Poisson bootstrap confidence band (Efron 1979; the
    * Poisson-resample form is the one that distributes — Chamandy et
    * al., "Estimating Uncertainty for Massive Data Streams", Google
    * 2012) — the error bars every per-group mean in this library ships
    * without: each of `reps` replicates reweights every row by a
    * DETERMINISTIC Poisson(1) draw hashed from (id, replicate), so the
    * replicate means' spread prices the sampling noise of the group
    * mean with no second pass and no driver state.
    *
    * Determinism is the whole design: the draw is the polyhash fold of
    * `id#rep` cut against the exact integer CDF thresholds of
    * Poisson(1) (⌊cdf·(10⁹+7)⌋, the hash's own modulus), truncated at
    * w = 5 — reproducible across engines, layouts and reruns, and the
    * truncation costs 0.069% of expected weight (documented, not
    * hidden). Replicate means are exact floor-ppm rationals; the band
    * is the lower ⌈0.05·R⌉ / upper ⌈0.95·R⌉ rank pick over the R
    * replicate means — deterministic ranks, no interpolation.
    *
    * Scale shape: the per-row explode is ×R inside one codegen stage,
    * collapsed by the partial aggregate to (group, rep) BEFORE any
    * exchange — shuffle volume is |groups|·R rows, window input R rows
    * per group. A replicate whose Poisson weights all land 0 (possible
    * only for tiny groups) contributes mean 0 — at the n ≥ ~100 group
    * sizes where a bootstrap band means anything, P(all-zero) < e⁻¹⁰⁰.
    *
    * @param idExpr unique row identity (hash input); reuse of an id
    *               correlates its rows' weights — pass the primary key
    * @param reps   replicate count R (state per group = R means)
    * @return (group, n, mean_ppm, lo_ppm, hi_ppm) — point mean and the
    *         [5th, 95th] percentile replicate means, floor ppm
    */
  def bootstrapCi(df: DataFrame, groupCol: String, idExpr: Column,
                  valueExpr: Column, reps: Int = 50): DataFrame = {
    require(reps >= 2, s"reps must be >= 2: $reps")
    import graft.functions.TextFeatures
    // exact ⌊cdf·(10⁹+7)⌋ of Poisson(1) at w = 0..4; the tail is w = 5
    val cuts = Seq(367879443L, 735758887L, 919698609L, 981011849L, 996340160L)
    val base = df.select(col(groupCol).as("__g"), idExpr.cast("string").as("__id"),
      valueExpr.cast("long").as("__v"))
    val repMeans = base
      .select(col("__g"), col("__v"), posexplode(array(
        (0 until reps).map(r =>
          TextFeatures.charHash(concat(col("__id"), lit(s"#$r")))): _*)))
      .select(col("__g"), col("pos").as("__rep"),
        col("__v"),
        cuts.zipWithIndex.foldRight(lit(5L)) { case ((cut, w), acc) =>
          when(col("col") < cut, w.toLong).otherwise(acc)
        }.as("__w"))
      .groupBy(col("__g"), col("__rep"))
      .agg(sum(expr("cast(__w as decimal(38,0)) * __v")).as("__sw"),
        sum(col("__w")).as("__n"))
      // sign-split FLOOR division: negative sums floor like the oracle's //
      .select(col("__g"), col("__rep"),
        when(col("__n") === 0L, lit(0L)).otherwise(expr(
          """CASE WHEN __sw >= 0 THEN (__sw * 1000000) div __n
            |ELSE -((-__sw * 1000000 + __n - 1) div __n) END""".stripMargin)
          .cast("long"))
          .as("__m"))
    val wCum = Window.partitionBy(col("__g")).orderBy(col("__m").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val loRank = (reps * 5 + 99) / 100   // ⌈0.05·R⌉
    val hiRank = (reps * 95 + 99) / 100  // ⌈0.95·R⌉
    val band = repMeans.groupBy(col("__g"), col("__m"))
      .agg(count(lit(1)).as("__c"))
      .withColumn("__cum", sum(col("__c")).over(wCum))
      .groupBy(col("__g"))
      .agg(min(when(col("__cum") >= loRank, col("__m"))).as("lo_ppm"),
        min(when(col("__cum") >= hiRank, col("__m"))).as("hi_ppm"))
    base.groupBy(col("__g"))
      .agg(count(lit(1)).as("n"),
        sum(col("__v").cast("decimal(38,0)")).as("__sv"))
      .join(band, Seq("__g"))
      .select(col("__g").as(groupCol), col("n"),
        expr("""CASE WHEN __sv >= 0 THEN (__sv * 1000000) div n
                |ELSE -((-__sv * 1000000 + n - 1) div n) END""".stripMargin)
          .cast("long").as("mean_ppm"),
        col("lo_ppm"), col("hi_ppm"))
  }

  /** X145: k-anonymity audit (Sweeney 2002) — the re-identification
    * risk check that belongs next to X26's PII scrub: every
    * quasi-identifier combination whose group holds fewer than k rows
    * pins its members to a small candidate set; publishing such rows
    * is the classic linkage-attack surface. One number per release:
    * how many groups, how many rows, sit below k.
    *
    * One map-side-combinable count onto the QI key, one single-row
    * fold — the audit costs a groupBy even at 100 TB, and the QI key
    * space is the state bound.
    *
    * @return one row (k_threshold, n_groups, n_rows, n_groups_below,
    *         n_rows_at_risk, min_group_size)
    */
  def kAnonymityAudit(df: DataFrame, qiCols: Seq[String], k: Long): DataFrame = {
    require(qiCols.nonEmpty, "kAnonymityAudit needs quasi-identifier columns")
    require(k >= 2, s"k must be at least 2: $k")
    df.groupBy(qiCols.map(col): _*).agg(count(lit(1)).as("sz"))
      .agg(count(lit(1)).as("n_groups"), sum(col("sz")).as("n_rows"),
        sum(when(col("sz") < k, 1L).otherwise(0L)).as("n_groups_below"),
        sum(when(col("sz") < k, col("sz")).otherwise(0L)).as("n_rows_at_risk"),
        min(col("sz")).as("min_group_size"))
      .select(lit(k).as("k_threshold"), col("n_groups"), col("n_rows"),
        col("n_groups_below"), col("n_rows_at_risk"), col("min_group_size"))
  }

  /** X187: l-diversity audit (Machanavajjhala TKDD'07) — the attack
    * X145's k-anonymity cannot see: a quasi-identifier class can hold
    * k ≥ 100 rows and still leak everything if all 100 share ONE
    * sensitive value (the homogeneity attack — the attacker needs no
    * row pinpointed, just the class). One number per release: how many
    * classes, how many rows, sit below l distinct sensitive values.
    *
    * Same cost contract as X145: one map-side-combinable aggregate
    * onto the QI key (count + exact count-distinct over the sensitive
    * column — Spark's two-phase hash distinct, never a window), one
    * single-row fold. The QI key space is the state bound.
    *
    * @return one row (l_threshold, n_groups, n_rows, n_groups_below,
    *         n_rows_at_risk, min_l)
    */
  def lDiversityAudit(df: DataFrame, qiCols: Seq[String],
                      sensitiveCol: String, l: Long): DataFrame = {
    require(qiCols.nonEmpty, "lDiversityAudit needs quasi-identifier columns")
    require(!qiCols.contains(sensitiveCol),
      s"sensitive column $sensitiveCol cannot also be a quasi-identifier")
    require(l >= 2, s"l must be at least 2: $l")
    df.groupBy(qiCols.map(col): _*)
      .agg(count(lit(1)).as("sz"),
        countDistinct(col(sensitiveCol)).as("lv"))
      .agg(count(lit(1)).as("n_groups"), sum(col("sz")).as("n_rows"),
        sum(when(col("lv") < l, 1L).otherwise(0L)).as("n_groups_below"),
        sum(when(col("lv") < l, col("sz")).otherwise(0L)).as("n_rows_at_risk"),
        min(col("lv")).as("min_l"))
      .select(lit(l).as("l_threshold"), col("n_groups"), col("n_rows"),
        col("n_groups_below"), col("n_rows_at_risk"), col("min_l"))
  }

  /** X190: t-closeness audit (Li ICDE'07) — the leak X187's l-diversity
    * still misses: a QI class can hold l = 5 distinct salaries and
    * still out its members if all five sit in the top percentile (the
    * skewness attack — diversity without representativeness). The
    * statistic is the ordinal earth-mover's distance between each
    * class's sensitive distribution and the GLOBAL one; classes with
    * EMD > t fail.
    *
    * Exact integer EMD on equal-width value bins: bin = sign-split
    * floor DIV of the sensitive value by `binWidth` (the
    * [[histogramCells]] mergeable-counter contract — pick binWidth so
    * the global bin count stays ≲10³), EMD = Σᵢ|cumc_i·n_g −
    * cumg_i·n_c|·10⁶ div ((m−1)·n_c·n_g) over the densified class×bin
    * grid — cross-engine exact, no floats.
    *
    * Shape: ONE count aggregate onto the (QI, bin) key, the global
    * histogram rolled up FROM those cells (the corpus is scanned
    * once), densification = |classes|·m rows with the ≤ m global bin
    * list broadcast, per-class cum windows see ≤ m rows, one
    * single-row fold. Never a raw-volume window, never a pair join.
    *
    * @return one row (t_ppm, n_buckets, n_groups, n_rows,
    *         n_groups_above, n_rows_at_risk, max_emd_ppm)
    */
  def tClosenessAudit(df: DataFrame, qiCols: Seq[String],
                      sensitiveExpr: Column, binWidth: Long,
                      tPpm: Long): DataFrame = {
    require(qiCols.nonEmpty, "tClosenessAudit needs quasi-identifier columns")
    require(binWidth >= 1, s"bin width must be positive: $binWidth")
    require(tPpm >= 0 && tPpm <= 1000000, s"t must be a ppm in [0, 1e6]: $tPpm")
    val cells = df
      .select((qiCols.map(col) :+ sensitiveExpr.cast("long").as("__v")): _*)
      .withColumn("__b", expr(
        s"""CASE WHEN __v >= 0 THEN __v div $binWidth
           |ELSE -(((-__v) + $binWidth - 1) div $binWidth) END""".stripMargin))
      .groupBy((qiCols.map(col) :+ col("__b")): _*)
      .agg(count(lit(1)).as("__c"))
      .localCheckpoint(eager = false) // forked: global rollup + class totals + densify
    val global = cells.groupBy(col("__b")).agg(sum(col("__c")).as("__cg"))
      .withColumn("__cumg", sum(col("__cg")).over(
        Window.partitionBy(lit(1)).orderBy(col("__b"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .localCheckpoint(eager = false) // forked: densify + totals (≤ m rows)
    val gt = global.agg(sum(col("__cg")).as("__ng"), count(lit(1)).as("__m"))
    val classes = cells.groupBy(qiCols.map(col): _*)
      .agg(sum(col("__c")).as("__nc"))
    val wc = Window.partitionBy(qiCols.map(col): _*).orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    classes
      .crossJoin(broadcast(global.select(col("__b"), col("__cumg"))))
      .join(cells, qiCols :+ "__b", "left")
      .na.fill(0L, Seq("__c"))
      .withColumn("__cumc", sum(col("__c")).over(wc))
      .crossJoin(broadcast(gt))
      .groupBy((qiCols.map(col) ++ Seq(col("__nc"), col("__ng"), col("__m"))): _*)
      .agg(sum(abs(expr(
        "cast(__cumc as decimal(38,0)) * __ng - cast(__cumg as decimal(38,0)) * __nc")))
        .as("__sd"))
      .select(col("__nc"), col("__m"),
        when(col("__m") === 1, lit(0L))
          .otherwise(expr(
            """(__sd * 1000000) div (cast(__m - 1 as decimal(38,0))
              | * cast(__nc as decimal(38,0)) * __ng)""".stripMargin)
            .cast("long"))
          .as("__emd"))
      .agg(min(col("__m")).as("n_buckets"),
        count(lit(1)).as("n_groups"), sum(col("__nc")).as("n_rows"),
        sum(when(col("__emd") > tPpm, 1L).otherwise(0L)).as("n_groups_above"),
        sum(when(col("__emd") > tPpm, col("__nc")).otherwise(0L)).as("n_rows_at_risk"),
        max(col("__emd")).as("max_emd_ppm"))
      .select(lit(tPpm).as("t_ppm"), col("n_buckets"), col("n_groups"),
        col("n_rows"), col("n_groups_above"), col("n_rows_at_risk"),
        col("max_emd_ppm"))
  }

  /** X140: dataset card — the one-row corpus summary a release ships
    * with (the quantitative core of a Datasheets/Data-Card document,
    * Gebru et al. 2021): volume, diversity, duplication, and central
    * length in ONE pass over the corpus plus bounded-side lookups. All
    * the numbers reconcile exactly with the dedicated operators they
    * summarize (X1 exact dup, X37 quantiles, X122 Gini) because they
    * share the same integer spellings.
    *
    * Dataflow: the per-doc projection (hash, token count, labels)
    * materializes ONCE and forks into (a) the scalar aggregate row,
    * (b) the |langs|-key count feeding the Gini rational, (c) the
    * compacted (value, count) median walk — windows see |distinct
    * lengths| rows, never docs (the q56 discipline). Three single-row
    * frames broadcast into the final projection.
    *
    * @return one row (n_docs, n_tokens, n_langs, n_sources,
    *         distinct_text_ppm, median_tokens, lang_gini_ppm)
    */
  def dataCard(docs: DataFrame, idCol: String, textCol: String,
               langCol: String, sourceCol: String): DataFrame = {
    import graft.functions.TextFeatures
    val base = docs.select(col(langCol).as("lang"), col(sourceCol).as("source"),
        TextFeatures.charHash(col(textCol)).as("h"),
        size(TextFeatures.tokens(col(textCol))).cast("long").as("ntok"))
      .localCheckpoint(eager = false) // forked: scalars + gini + median
    val scal = base.agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("n_tokens"),
      count_distinct(col("lang")).as("n_langs"),
      count_distinct(col("source")).as("n_sources"),
      count_distinct(col("h")).as("n_distinct_texts"))
    val gini = base.groupBy(col("lang")).agg(count(lit(1)).as("c"))
      .agg(sum(col("c")).as("n"),
        sum(col("c").cast("decimal(38,0)") * col("c")).as("ss"))
      .select((lit(1000000L) - expr(
        "(ss * 1000000) div (cast(n as decimal(38,0)) * n)").cast("long"))
        .as("lang_gini_ppm"))
    val cum = Window.orderBy(col("v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val med = base.groupBy(col("ntok").as("v")).agg(count(lit(1)).as("cnt"))
      .withColumn("__cum", sum(col("cnt")).over(cum))
      .withColumn("__n", sum(col("cnt")).over(all))
      .filter(col("__cum") >= expr("(__n * 50 + 99) DIV 100") &&
        col("__cum") - col("cnt") < expr("(__n * 50 + 99) DIV 100"))
      .select(col("v").as("median_tokens"))
    scal.crossJoin(broadcast(med)).crossJoin(broadcast(gini))
      .select(col("n_docs"), col("n_tokens"), col("n_langs"), col("n_sources"),
        expr("n_distinct_texts * 1000000 DIV n_docs").as("distinct_text_ppm"),
        col("median_tokens"), col("lang_gini_ppm"))
  }

  /** X131: Benford first-digit audit — the classic fabricated-data
    * detector (Benford 1938; Nigrini's forensic-accounting standard)
    * for numeric columns that SHOULD span magnitudes: transaction
    * amounts, populations, file sizes. Synthetic or tampered columns
    * miss the log-uniform first-digit law and the per-digit deviation
    * exposes them before a corpus ships.
    *
    * Integer-exact end to end: the first significant digit comes from
    * the STRING rendering of the abs long value (longs render
    * identically in every engine — no log10, no float), shares are
    * ppm floor-DIVs, and the Benford expectations are the nine
    * floor(10⁶·log₁₀(1+1/d)) constants inlined as literals. Zero
    * values carry no leading digit and are excluded; a digit that
    * never occurs has no row (the absence IS signal — a 9-row check
    * per column is part of the audit).
    *
    * One scan: columns explode to (col, digit) pairs inside codegen,
    * one ≤ 9·|cols|-key aggregate, totals join back on the tiny key.
    *
    * @param cols long-typed columns (cast/floor yourself — the caller
    *             owns the canonicalization, as in [[datasetDigest]])
    * @return (col_name, digit, n, share_ppm, benford_ppm, dev_ppm)
    */
  def benfordPpm(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "benfordPpm needs at least one column")
    val expect = Seq(1 -> 301030L, 2 -> 176091L, 3 -> 124939L,
      4 -> 96910L, 5 -> 79181L, 6 -> 66947L, 7 -> 57992L,
      8 -> 51153L, 9 -> 45757L)
    val pairs = cols.map(c =>
      struct(lit(c).as("col_name"), abs(col(c).cast("long")).as("v")))
    val digits = df.select(explode(array(pairs: _*)).as("p"))
      .select(col("p.col_name").as("col_name"), col("p.v").as("v"))
      .filter(col("v") > 0)
      .select(col("col_name"),
        substring(col("v").cast("string"), 1, 1).cast("long").as("digit"))
      .groupBy(col("col_name"), col("digit")).agg(count(lit(1)).as("n"))
      .localCheckpoint(eager = false) // forked: per-column totals + output
    val totals = digits.groupBy(col("col_name")).agg(sum(col("n")).as("__tot"))
    val bf = expect.tail.foldLeft(
      when(col("digit") === expect.head._1, expect.head._2)) {
      case (acc, (d, p)) => acc.when(col("digit") === d, p)
    }
    digits.join(totals, Seq("col_name"))
      .withColumn("share_ppm", expr("n * 1000000 DIV __tot"))
      .withColumn("benford_ppm", bf)
      .select(col("col_name"), col("digit"), col("n"), col("share_ppm"),
        col("benford_ppm"),
        abs(col("share_ppm") - col("benford_ppm")).as("dev_ppm"))
  }

  /** X130: type sniffing — schema inference over string-typed staging
    * columns (the step a CSV/Excel ingest runs before declaring a
    * schema; the reference's staging tables arrive all-VARCHAR —
    * `processor.py`'s coercions assume someone decided which columns
    * are numeric/date first). Counts per column how many trimmed
    * values match each syntactic class via ANCHORED REGEXES — not
    * engine `try_cast`s, whose rounding/locale semantics differ across
    * engines — then issues a verdict at `thresholdPct` of non-blank
    * values: int > decimal (int+decimal pooled: integer literals are
    * valid decimals) > ISO date > BR date > bool > string; all-blank
    * columns read `empty`. The decimal class accepts BOTH `.` and `,`
    * separators (the reference's comma-decimal domain, F3).
    *
    * One scan: columns explode to (col_name, value) pairs inside
    * codegen, one |cols|-key map-side-combinable aggregate — the
    * [[columnProfile]] shape; the verdict is a pure projection.
    *
    * @return (col_name, n_rows, n_blank, n_int, n_decimal, n_date_iso,
    *         n_date_br, n_bool, verdict)
    */
  def typeSniff(df: DataFrame, cols: Seq[String],
                thresholdPct: Long = 95L): DataFrame = {
    require(cols.nonEmpty, "typeSniff needs at least one column")
    require(thresholdPct > 0 && thresholdPct <= 100,
      s"threshold must lie in (0, 100]: $thresholdPct")
    val pairs = cols.map(c =>
      struct(lit(c).as("col_name"), col(c).cast("string").as("v")))
    val hit = (c: Column) => when(c, lit(1L)).otherwise(lit(0L))
    df.select(explode(array(pairs: _*)).as("p"))
      .select(col("p.col_name").as("col_name"), trim(col("p.v")).as("v"))
      .groupBy(col("col_name"))
      .agg(count(lit(1)).as("n_rows"),
        sum(hit(col("v").isNull || col("v") === "")).as("n_blank"),
        sum(hit(col("v").rlike("^[+-]?[0-9]+$"))).as("n_int"),
        sum(hit(col("v").rlike("^[+-]?[0-9]+[.,][0-9]+$"))).as("n_decimal"),
        sum(hit(col("v").rlike("^[0-9]{4}-[0-9]{2}-[0-9]{2}$"))).as("n_date_iso"),
        sum(hit(col("v").rlike("^[0-9]{2}/[0-9]{2}/[0-9]{4}$"))).as("n_date_br"),
        sum(hit(lower(col("v"))
          .isin("true", "false", "t", "f", "yes", "no"))).as("n_bool"))
      .withColumn("__nv", col("n_rows") - col("n_blank"))
      .withColumn("verdict",
        when(col("__nv") === 0, lit("empty"))
          .when(col("n_int") * 100 >= col("__nv") * thresholdPct, lit("int"))
          .when((col("n_int") + col("n_decimal")) * 100 >=
            col("__nv") * thresholdPct, lit("decimal"))
          .when(col("n_date_iso") * 100 >= col("__nv") * thresholdPct,
            lit("date_iso"))
          .when(col("n_date_br") * 100 >= col("__nv") * thresholdPct,
            lit("date_br"))
          .when(col("n_bool") * 100 >= col("__nv") * thresholdPct, lit("bool"))
          .otherwise(lit("string")))
      .select(col("col_name"), col("n_rows"), col("n_blank"), col("n_int"),
        col("n_decimal"), col("n_date_iso"), col("n_date_br"), col("n_bool"),
        col("verdict"))
  }

  /** X129: MAD robust outlier counts — the median-based twin of
    * [[iqrOutlierFences]] (Hampel's rule: flag |v − median| >
    * k·MAD). MAD's 50% breakdown point beats the quartile fences'
    * 25% when a column is MOSTLY garbage — the exact situation a
    * crawled-corpus audit meets — at the cost of one more quantile
    * walk.
    *
    * Both medians ride the q56 compaction discipline: raw rows
    * compact to (group, value, cnt) ONCE, the deviation frame
    * re-compacts (two values can share a deviation), and every rank
    * window reads |distinct values| per group, never row volume. The
    * multiplier is in TENTHS and the fence test is the cross-
    * multiplied `10·|v−med| > k·mad` — division-free, exact,
    * engine-portable.
    *
    * @param multTenths Hampel multiplier ×10 (default 30 = 3.0×MAD)
    * @return (group, median, mad, n_rows, n_out)
    */
  def madOutliers(df: DataFrame, groupCol: String, valueCol: Column,
                  multTenths: Long = 30L): DataFrame = {
    require(multTenths >= 0, "MAD multiplier must be non-negative")
    def wmedian(f: DataFrame, vname: String, out: String): DataFrame = {
      val cum = Window.partitionBy(groupCol).orderBy(col(vname).asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val all = Window.partitionBy(groupCol)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      f.withColumn("__cum", sum(col("cnt")).over(cum))
        .withColumn("__n", sum(col("cnt")).over(all))
        .filter(col("__cum") >= expr("(__n * 50 + 99) DIV 100") &&
          col("__cum") - col("cnt") < expr("(__n * 50 + 99) DIV 100"))
        .select(col(groupCol), col(vname).as(out))
    }
    val counts = df.select(col(groupCol), valueCol.cast("long").as("v"))
      .groupBy(col(groupCol), col("v")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint(eager = false) // forked: median walk + deviations
    val med = wmedian(counts, "v", "median")
    val dev = counts.join(med, Seq(groupCol))
      .select(col(groupCol), col("median"),
        abs(col("v") - col("median")).as("d"), col("cnt"))
      .groupBy(col(groupCol), col("median"), col("d"))
      .agg(sum(col("cnt")).as("cnt"))
      .localCheckpoint(eager = false) // forked: MAD walk + fence count
    val mad = wmedian(dev, "d", "mad")
    dev.join(mad, Seq(groupCol))
      .groupBy(col(groupCol), col("median"), col("mad"))
      .agg(sum(col("cnt")).as("n_rows"),
        sum(when(col("d") * 10 > lit(multTenths) * col("mad"), col("cnt"))
          .otherwise(lit(0L))).as("n_out"))
      .select(col(groupCol), col("median"), col("mad"),
        col("n_rows"), col("n_out"))
  }

  /** X95: order-independent dataset digest — a per-shard content
    * fingerprint for corpus reproducibility audits: "did this rebuild
    * produce byte-identical data, shard by shard?" Two snapshots'
    * digest frames compare by equality; a changed shard pinpoints
    * where to diff (the cheap answer to the question [[histogramDriftPpm]]
    * answers statistically and X64's CDC diff answers row by row).
    *
    * The row hash is the polynomial fold of the selected long columns
    * (h = fold(h·31 + c) mod 10⁹+7 — the [[graft.functions.TextFeatures]]
    * hash discipline, integer-exact in any engine); the shard digest
    * is four commutative-monoid aggregates over it — count, XOR, sum,
    * min/max — each map-side combinable and MERGE-ORDER INDEPENDENT,
    * which is the whole point: identical content gives an identical
    * digest under any partitioning, task order, or retry history, so
    * a digest mismatch is always real data drift, never layout noise.
    * One shuffle of |shards| keys; no driver state.
    *
    * @param cols long-typed columns, hashed in the given order (cast
    *             yourself for other types — canonicalization is the
    *             caller's contract, as in any content address)
    * @return (shard, n_rows, xor_h, sum_h, min_h, max_h)
    */
  /** The digest's row hash: left-to-right polynomial fold of the long
    * casts of `cols`, mod 10⁹+7. Shared with the streaming twin
    * ([[graft.streaming.StreamingLoad.digestStream]]) so both sides
    * hash identically by construction. */
  def rowHash(cols: Seq[Column]): Column = {
    require(cols.nonEmpty, "rowHash needs at least one column")
    val P = 1000000007L
    cols.foldLeft(lit(0L)) { (acc, c) =>
      (acc * 31L + pmod(c.cast("long"), lit(P))) % P
    }
  }

  def datasetDigest(df: DataFrame, shardExpr: Column,
                    cols: Seq[Column]): DataFrame = {
    df.select(shardExpr.as("shard"), rowHash(cols).as("__h"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_rows"),
        expr("bit_xor(__h)").as("xor_h"),
        sum(col("__h")).as("sum_h"),
        min(col("__h")).as("min_h"),
        max(col("__h")).as("max_h"))
  }

  /** X99: group-quantile winsorization — clip each row's value into
    * its group's [pLo, pHi] exact-percentile band (Tukey/Hastings
    * winsorizing, the robust-features step between X83's fence COUNTS
    * and actually fixing the data): outliers don't vanish, they pin to
    * the band edge, preserving row count and rank structure.
    *
    * Exactness free-rides on [[discreteQuantiles]] (the compacted
    * discrete percentile, integer rank arithmetic); the fences join
    * back BROADCAST (2 rows per group — fence frames are
    * group-cardinality-sized) and the clip is a pure projection, so
    * the event volume is scanned twice, shuffled once (inside the
    * quantile compaction), and never windowed raw.
    *
    * @return input keyed rows as (`groupCol`, `idCol`, v, v_clipped,
    *         lo, hi) — v_clipped = least(greatest(v, lo), hi)
    */
  def winsorize(df: DataFrame, groupCol: String, idCol: String,
                valueCol: Column, pLo: Int, pHi: Int): DataFrame = {
    require(pLo >= 1 && pHi <= 100 && pLo < pHi,
      s"need 1 <= pLo < pHi <= 100: $pLo, $pHi")
    val q = discreteQuantiles(df, groupCol, valueCol, Seq(pLo, pHi))
    val fences = q.groupBy(col(groupCol))
      .agg(min(when(col("pct") === pLo, col("value"))).as("lo"),
        min(when(col("pct") === pHi, col("value"))).as("hi"))
    df.select(col(groupCol), col(idCol), valueCol.as("v"))
      .join(broadcast(fences), Seq(groupCol))
      .select(col(groupCol), col(idCol), col("v"),
        least(greatest(col("v"), col("lo")), col("hi")).as("v_clipped"),
        col("lo"), col("hi"))
  }

  /** X101: quantile normalization — align every group's score
    * distribution onto the GLOBAL distribution at 1% resolution (the
    * distribution-matching step before mixing scores from different
    * sources/corpora: a "7" from a lenient scorer and a "3" from a
    * strict one land on comparable global values; the genomics
    * quantile-normalization standard, here group→global).
    *
    * Two exact pieces compose: each row's inclusive per-group
    * percentile rank pr_ppm = (#{≤ v}·10⁶) div n (the [[cdfPpm]]
    * compaction — the window input is (group, value) distinct rows,
    * never raw volume), and a 100-point global quantile grid from the
    * MERGEABLE histogram cells ([[histogramQuantiles]] — bounded-state
    * sketch, bin_lo exact for v ≥ 0). The row's target is the grid
    * value at pct = clamp₁..₁₀₀(ceil(pr_ppm/10⁴)) — a BROADCAST join
    * against 100 rows. Integer arithmetic end to end.
    *
    * Scale: one compaction shuffle + one distinct-value window per
    * group + a broadcast lookup; the global side never funnels raw
    * rows anywhere (cells are map-side-combinable counters).
    *
    * @return (`groupCol`, `idCol`, v, pr_ppm, pct, v_norm)
    */
  def quantileNormalize(df: DataFrame, groupCol: String, idCol: String,
                        valueCol: Column, binWidth: Long): DataFrame = {
    val src = df.select(col(groupCol), col(idCol), valueCol.cast("long").as("v"))
      .localCheckpoint(eager = false) // forked: counts + cells + output join
    val counts = src.groupBy(col(groupCol), col("v")).agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(groupCol).orderBy(col("v"))
    val pr = counts
      .withColumn("__cum", sum(col("cnt")).over(w))
      .join(counts.groupBy(col(groupCol)).agg(sum(col("cnt")).as("__n")),
        Seq(groupCol))
      .select(col(groupCol), col("v"), expr("(__cum * 1000000) DIV __n").as("pr_ppm"))
    val grid = histogramQuantilesFromCells(
        histogramCells(src.withColumn("__g", lit("all")), "__g", col("v"), binWidth),
        "__g", (1 to 100), binWidth)
      .select(col("pct"), col("bin_lo").as("v_norm"))
    src.join(pr, Seq(groupCol, "v"))
      .withColumn("pct",
        greatest(lit(1L), least(lit(100L), expr("(pr_ppm + 9999) DIV 10000"))))
      .join(broadcast(grid), Seq("pct"))
      .select(col(groupCol), col(idCol), col("v"), col("pr_ppm"),
        col("pct"), col("v_norm"))
  }

  /** X98: per-dimension embedding statistics — the feature-
    * normalization table of a vector pipeline (mean/variance/range per
    * dimension, from which standardization, min-max scaling, and
    * whitening all derive exactly). The vector-column sibling of
    * [[columnProfile]].
    *
    * Integer-exact at two quanta: linear sums quantize at 10⁶
    * (`sum_q6`, the [[graft.ops.Clustering]] Quantum), squared sums at
    * 10³ (`sumsq_q3` = Σ floor(v·10³)² ) — the coarser grain keeps the
    * square-sum inside Long for ~10¹² rows at |v| ≤ 3 (9·10⁶ per row),
    * where a 10⁶-quantum square would overflow at ~10⁶ rows. Both are
    * map-side-combinable longs, bit-identical under any merge order.
    *
    * Row form throughout (pos, …): one explode, one (pos)-keyed
    * aggregate, codegen width constant in dims — never a dims-wide
    * column list.
    *
    * @return (pos, n, sum_q6, sumsq_q3, min_q6, max_q6), 1-based pos
    */
  def embeddingDimStats(feats: DataFrame, vecCol: String): DataFrame =
    feats
      .select(posexplode(col(vecCol)))
      .select((col("pos") + 1).cast("long").as("pos"),
        floor(col("col").cast("double") * 1000000L).cast("long").as("__q6"),
        floor(col("col").cast("double") * 1000L).cast("long").as("__q3"))
      .groupBy("pos")
      .agg(count(lit(1)).as("n"), sum(col("__q6")).as("sum_q6"),
        sum(col("__q3") * col("__q3")).as("sumsq_q3"),
        min(col("__q6")).as("min_q6"), max(col("__q6")).as("max_q6"))

  def columnProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "columnProfile needs at least one column")
    val pairs = cols.map(c =>
      struct(lit(c).as("col_name"), col(c).cast("string").as("v")))
    df.select(explode(array(pairs: _*)).as("p"))
      .select(col("p.col_name").as("col_name"), col("p.v").as("v"))
      .groupBy(col("col_name"))
      .agg(count(col("v")).as("n_nonnull"),
        count_distinct(col("v")).as("n_distinct"),
        min(col("v")).as("min_str"),
        max(col("v")).as("max_str"))
  }

  /** X105: join/shuffle-key skew profile — the diagnostic that decides
    * whether a key needs the salted-join treatment (X15) BEFORE the
    * job falls over: the topK heaviest keys with their absolute count,
    * corpus share, and ratio to the mean key load, all in exact ppm
    * (`skew_ppm` = 10⁶ × cnt·n_keys ÷ total, so 10⁶ = perfectly
    * uniform and 5·10⁶ = this key carries 5× the average).
    *
    * One map-side-combinable count aggregate, one 2-long totals row
    * (broadcast), and a TakeOrderedAndProject top-K — the final rank
    * window runs over ≤ topK rows by construction, never the key
    * space. Arithmetic is DECIMAL(38,0) before the divide, so counts
    * up to 10¹⁴ (100 TB territory) cannot overflow the ppm products.
    *
    * @return (rnk, k, cnt, share_ppm, skew_ppm), rnk 1..topK by
    *         (cnt DESC, k ASC)
    */
  def keySkewProfile(df: DataFrame, keyCol: Column, topK: Int): DataFrame = {
    require(topK >= 1, s"keySkewProfile needs topK >= 1: $topK")
    val cnts = df.select(keyCol.cast("string").as("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint(eager = false) // forked: totals + top-k
    val tot = cnts.agg(sum(col("cnt")).as("__total"),
      count(lit(1)).as("__n_keys"))
    cnts.orderBy(col("cnt").desc, col("k").asc).limit(topK)
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("cnt").desc, col("k").asc))) // ≤ topK rows
      .crossJoin(broadcast(tot))
      .select(col("rnk"), col("k"), col("cnt"),
        expr("(cast(cnt as decimal(38,0)) * 1000000) div cast(__total as decimal(38,0))")
          .cast("long").as("share_ppm"),
        expr("(cast(cnt as decimal(38,0)) * __n_keys * 1000000) div cast(__total as decimal(38,0))")
          .cast("long").as("skew_ppm"))
  }

  /** X122: Gini diversity index per categorical column — how evenly a
    * corpus spreads over its languages/sources/shards, WITHOUT the
    * logarithm entropy needs: `gini_ppm = 10⁶·(1 − Σ p_v²)`, computed
    * as the exact rational 10⁶ − Σcnt²·10⁶ div n² (0 = one value owns
    * everything, → 10⁶·(1−1/k) = uniform over k values). The
    * mixture-skew headline number next to X105's per-key detail.
    *
    * One pass: rows explode into |cols| structs, two stacked map-side
    * aggregates; DECIMAL(38,0) squares so 10¹⁴-row counts can't
    * overflow.
    *
    * @return (col_name, n_rows, n_values, gini_ppm)
    */
  def giniDiversityPpm(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "giniDiversityPpm needs at least one column")
    val pairs = cols.map(c =>
      struct(lit(c).as("col_name"), col(c).cast("string").as("v")))
    df.select(explode(array(pairs: _*)).as("p"))
      .groupBy(col("p.col_name").as("col_name"), col("p.v").as("v"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("col_name"))
      .agg(sum(col("cnt")).as("n_rows"), count(lit(1)).as("n_values"),
        sum(expr("cast(cnt as decimal(38,0)) * cnt")).as("__ss"))
      .select(col("col_name"), col("n_rows"), col("n_values"),
        expr("1000000 - (cast(__ss as decimal(38,0)) * 1000000) div " +
          "(cast(n_rows as decimal(38,0)) * n_rows)")
          .cast("long").as("gini_ppm"))
  }

  /** X106: functional-dependency violation audit — for a declared
    * dependency X → Y (catalog code → description, source → language,
    * URL → canonical id), every X whose rows disagree on Y, with the
    * majority value and the size of the dissenting minority. The
    * consistency check that catches merge bugs and label noise before
    * training data ships; X18's constraint checks answer "is the FK
    * intact", this answers "is the attribute single-valued where the
    * schema says it should be".
    *
    * Two stacked map-side-combinable aggregates: (x, y) counts, then a
    * per-x fold whose majority pick is the window-free struct-min
    * (−cnt, y) — largest count, ties to the smallest value, exactly
    * mirrorable in SQL. Shuffle is bounded by |distinct (x, y)|.
    *
    * @return (x, n_rows, n_vals, majority_val, violation_rows) for
    *         every x with n_vals ≥ 2; violation_rows = n_rows − cnt of
    *         the majority value
    */
  /** X110: corpus contract checks — declarative per-row invariants
    * (metadata consistency, emptiness, domain membership) swept in ONE
    * pass and reported as violation counts, the corpus-side analogue
    * of X18's warehouse constraint suite: stored `n_chars` drifting
    * from the actual text is exactly the metadata rot a
    * decode/re-encode pipeline introduces silently.
    *
    * Each row explodes into |checks| tiny (name, 0/1) structs, which a
    * map-side-combinable aggregate folds per check — the row is read
    * once no matter how many invariants are declared, and shuffle is
    * |checks| rows.
    *
    * @param checks (name, VIOLATION predicate) pairs — true = bad row
    * @return (check, n_rows, violations, violation_ppm), one row per
    *         declared check
    */
  def contractChecks(df: DataFrame,
                     checks: Seq[(String, Column)]): DataFrame = {
    require(checks.nonEmpty, "contractChecks needs at least one check")
    val pairs = checks.map { case (nm, pred) =>
      struct(lit(nm).as("check"),
        when(pred, 1L).otherwise(0L).as("v")) }
    df.select(explode(array(pairs: _*)).as("p"))
      .groupBy(col("p.check").as("check"))
      .agg(count(lit(1)).as("n_rows"), sum(col("p.v")).as("violations"))
      .withColumn("violation_ppm",
        expr("violations * 1000000 DIV n_rows"))
  }

  def fdViolations(df: DataFrame, lhs: Column, rhs: Column): DataFrame = {
    val c = df.select(lhs.cast("string").as("x"), rhs.cast("string").as("y"))
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("cnt"))
    c.groupBy(col("x"))
      .agg(sum(col("cnt")).as("n_rows"),
        count(lit(1)).as("n_vals"),
        min(struct((-col("cnt")).as("nc"), col("y").as("y"))).as("__m"))
      .filter(col("n_vals") >= 2)
      .select(col("x"), col("n_rows"), col("n_vals"),
        col("__m.y").as("majority_val"),
        (col("n_rows") + col("__m.nc")).as("violation_rows"))
  }

  /** X174: quantile-shift drift — per (group, percentile), the exact
    * quantile BEFORE vs AFTER a split predicate and their signed
    * difference: the location/scale view of distribution drift that
    * [[histogramDriftPpm]]'s L1 mass distance cannot localize (a 2×
    * tail stretch and a small median slide can share one TVD — their
    * quantile shifts look nothing alike). Both sides run the q56
    * compaction, so rank windows read |distinct values| per (group,
    * side); groups present on only one side are dropped (no drift is
    * DEFINED for them — documented, inner join).
    *
    * @return (group, pct, v_before, v_after, shift)
    */
  def quantileShift(df: DataFrame, groupCol: String, valueCol: Column,
                    afterCol: Column, pcts: Seq[Int]): DataFrame = {
    val tagged = df.select(col(groupCol), valueCol.cast("long").as("__v"),
        afterCol.cast("boolean").as("__after"))
      .localCheckpoint(eager = false) // forked: the two sides
    val before = discreteQuantiles(tagged.filter(!col("__after")),
      groupCol, col("__v"), pcts).withColumnRenamed("value", "v_before")
    val after = discreteQuantiles(tagged.filter(col("__after")),
      groupCol, col("__v"), pcts).withColumnRenamed("value", "v_after")
    before.join(after, Seq(groupCol, "pct"))
      .withColumn("shift", col("v_after") - col("v_before"))
  }

  /** X162: robust z-score — [[madOutliers]]' fences turned into a
    * per-row FEATURE: z = (v − median)/MAD in signed tenths, the
    * 50%-breakdown standardization that survives the garbage columns
    * where mean/stddev scaling silently recentres on the outliers it
    * was meant to flag. The feature-engineering sibling of the audit:
    * same median/MAD (same compacted walks), joined back to row volume
    * by the group key (AQE-planned) and applied as one codegen'd
    * sign-split projection. A degenerate group (MAD 0: over half the
    * mass on one value) reads z 0 — by contract, not by NULL.
    *
    * @return (group, id, v, median, mad, z_tenths)
    */
  def robustZ(df: DataFrame, groupCol: String, idCol: String,
              valueCol: Column): DataFrame = {
    val stats = madOutliers(df, groupCol, valueCol)
      .select(col(groupCol), col("median"), col("mad"))
    df.select(col(groupCol), col(idCol).as("id"),
        valueCol.cast("long").as("v"))
      .join(stats, Seq(groupCol))
      .select(col(groupCol), col("id"), col("v"), col("median"), col("mad"),
        when(col("mad") === 0, lit(0L))
          .when(col("v") >= col("median"),
            expr("(10 * (v - median)) div mad"))
          .otherwise(-expr("(10 * (median - v)) div mad"))
          .as("z_tenths"))
  }

  /** X157: PII density by source — the release-gate number next to
    * X26's scrub (which redacts; this MEASURES): per source, how much
    * detectable PII is in the text, normalized per million tokens so
    * sources of different sizes compare. A source whose density stays
    * high after scrubbing has a pattern the regexes miss — this is the
    * regression metric that catches it. Uses the SAME anchored regexes
    * as the scrub pass ([[graft.functions.TextAnalysis.piiColumns]]),
    * so measure and redact can never disagree on what counts.
    *
    * ONE codegen'd per-doc projection + one map-side-combinable
    * source-key aggregate; nothing else moves.
    *
    * @return (source, n_docs, n_tokens, n_emails, n_phones,
    *         docs_with_pii, pii_per_mtok)
    */
  def piiDensityBySource(docs: DataFrame, sourceCol: String,
                         textCol: String): DataFrame = {
    import graft.functions.{TextAnalysis, TextFeatures}
    val e = size(regexp_extract_all(col(textCol),
      lit(TextAnalysis.EmailRe), lit(0))).cast("long")
    val p = size(regexp_extract_all(col(textCol),
      lit(TextAnalysis.PhoneRe), lit(0))).cast("long")
    docs.select(col(sourceCol).as("source"),
        size(TextFeatures.tokens(col(textCol))).cast("long").as("__t"),
        e.as("__e"), p.as("__p"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__t")).as("n_tokens"),
        sum(col("__e")).as("n_emails"), sum(col("__p")).as("n_phones"),
        sum(when(col("__e") + col("__p") > 0, 1L).otherwise(0L))
          .as("docs_with_pii"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("n_emails"), col("n_phones"), col("docs_with_pii"),
        when(col("n_tokens") === 0, lit(0L)).otherwise(
          expr("""(cast(n_emails + n_phones as decimal(38,0)) * 1000000)
                 | div n_tokens""".stripMargin).cast("long"))
          .as("pii_per_mtok"))
  }

  /** X158: trimmed mean — the robust per-group location that ignores
    * the top and bottom `trimPct`% of the mass (the "mean without the
    * outliers" next to [[madOutliers]]' fence counts): rank-clip on the
    * q56-compacted (group, value, count) domain, so a value block
    * straddling the trim boundary contributes exactly its inside
    * portion — kept = min(cum, hi) − max(cum − cnt, lo) clamped at 0,
    * with lo = n·p div 100 and hi = n − lo. Windows see |distinct
    * values| per group, never rows; the mean is a sign-split floor DIV
    * of exact integers.
    *
    * @return (group, n_rows, n_kept, trimmed_sum, trimmed_mean)
    */
  def trimmedMean(df: DataFrame, groupCol: String, valueCol: Column,
                  trimPct: Int): DataFrame = {
    require(trimPct >= 0 && trimPct < 50,
      s"trim percentage out of [0, 50): $trimPct")
    val cum = Window.partitionBy(groupCol).orderBy(col("v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy(groupCol)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    df.select(col(groupCol), valueCol.cast("long").as("v"))
      .groupBy(col(groupCol), col("v")).agg(count(lit(1)).as("cnt"))
      .withColumn("__cum", sum(col("cnt")).over(cum))
      .withColumn("__n", sum(col("cnt")).over(all))
      .select(col(groupCol), col("v"), col("cnt"), col("__n"),
        greatest(lit(0L),
          least(col("__cum"), expr(s"__n - (__n * $trimPct) div 100")) -
            greatest(col("__cum") - col("cnt"),
              expr(s"(__n * $trimPct) div 100"))).as("__kept"))
      .groupBy(col(groupCol))
      .agg(max(col("__n")).as("n_rows"), sum(col("__kept")).as("n_kept"),
        sum(col("v") * col("__kept")).as("trimmed_sum"))
      .select(col(groupCol), col("n_rows"), col("n_kept"),
        col("trimmed_sum"),
        when(col("n_kept") === 0, lit(0L))
          .when(col("trimmed_sum") >= 0, expr("trimmed_sum div n_kept"))
          .otherwise(-expr("(-trimmed_sum) div n_kept"))
          .as("trimmed_mean"))
  }

  /** Pinned ⌊log₂(x)·10⁶⌋ for x = 1..256 — [[entropyScan]]'s integer
    * log table, computed once with StrictMath (the X208 discount-table
    * discipline: the oracle inlines these exact values as literals, so
    * no runtime float ever crosses the engine boundary). */
  private[graft] val log2Micro: Array[Long] = Array.tabulate(256)(i =>
    math.floor(StrictMath.log(i + 1.0) / StrictMath.log(2.0) * 1e6).toLong)

  /** X210: secret scan — per-token Shannon entropy over candidate
    * tokens — the high-entropy-string detector every code/web corpus
    * runs before training (the detect-secrets/trufflehog heuristic,
    * BigCode's secrets pass): leaked API keys, tokens and passwords are
    * long runs of near-uniform characters, and char entropy separates
    * them from natural words without a single pattern rule.
    *
    * Candidates are whole whitespace tokens of ≥ `minLen` PRINTABLE
    * ASCII chars (`[\x21-\x7e]` — secrets are ASCII by construction,
    * and the ASCII gate also pins char = codepoint on every engine, so
    * the oracle cannot diverge on multi-byte splitting). Entropy reads
    * the first 256 chars (longer blobs saturate the signal; the cap
    * bounds the pinned table and the per-token work). In µbits/char:
    * H_ppm = (Σ_c cnt_c·(L[n] − L[cnt_c])) div n over the pinned
    * [[log2Micro]] table — integer-exact, engine-independent.
    *
    * Scale shape: everything up to the doc rollup is per-row codegen'd
    * HOF arithmetic (O(distinct·n) per token, distinct ≤ 95 printable
    * chars) — no shuffle carries a char; the only exchange is the
    * map-side-combinable per-doc aggregate. Docs with no candidate
    * token are absent (nothing to scan), the [[Curation.docQualityScorePpm]]
    * absence convention.
    *
    * @return (`idCol`, n_candidates, n_flagged, max_h_ppm) — flagged =
    *         entropy ≥ `thresholdPpm` µbits/char (default 3.0 bits:
    *         above every natural-language token, below hex/base64 keys)
    */
  def entropyScan(docs: DataFrame, idCol: String, textCol: String,
                  minLen: Int = 16, thresholdPpm: Long = 3000000L): DataFrame = {
    require(minLen >= 2 && minLen <= 256,
      s"minLen must sit in [2, 256] (the pinned log table's domain): $minLen")
    val L = array(log2Micro.map(lit): _*)
    docs
      .select(col(idCol).as("__id"),
        explode(filter(graft.functions.TextFeatures.tokens(col(textCol)),
          t => t.rlike(s"^[\\x21-\\x7e]{$minLen,}$$"))).as("__t0"))
      .select(col("__id"), expr("substr(__t0, 1, 256)").as("__t"))
      .withColumn("__n", length(col("__t")))
      .withColumn("__cs",
        expr("transform(sequence(1, length(__t)), i -> substr(__t, i, 1))"))
      .withColumn("__cnts", transform(array_distinct(col("__cs")),
        c => size(filter(col("__cs"), x => x === c)).cast("long")))
      .withColumn("__hppm",
        aggregate(col("__cnts"), lit(0L), (acc, cnt) =>
          acc + cnt * (element_at(L, col("__n")) -
            element_at(L, cnt.cast("int")))))
      .withColumn("__hppm", expr("__hppm div __n"))
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_candidates"),
        sum(when(col("__hppm") >= thresholdPpm, 1L).otherwise(0L))
          .as("n_flagged"),
        max(col("__hppm")).as("max_h_ppm"))
      .select(col("__id").as(idCol), col("n_candidates"),
        col("n_flagged"), col("max_h_ppm"))
  }


  /** X212: pairwise 1-Wasserstein (earth-mover) distance on qsketch
    * cells — the drift panel's only member with UNITS: where L1 counts
    * mass that moved and KS reports the worst CDF gap, W₁ = ∫|F_a −
    * F_b| dx prices how FAR the mass travelled, in the value column's
    * own units ("p50 latency drifted, and the average microsecond of
    * probability mass moved 340 µs") — the number a capacity ticket can
    * act on. Classic identity: for 1-D distributions W₁ equals the
    * area between the CDFs (Vallender 1974), so it reads off the same
    * cell grid as the rest of the panel in one pass.
    *
    * Cell censoring: each cell's mass sits at the cell's LOWER bound
    * (the same convention [[graft.ops.Sketches.qsketchQuantiles]]
    * reports), so this is the EXACT W₁ of the censored data, and its
    * distance from the raw-data W₁ is bounded by the sketch's relative
    * width contract (≤ 2^−subBits of each value). Integer spelling:
    * W₁·n_a·n_b = Σ_i gap_i·|cumA_i·n_b − cumB_i·n_a| with gap_i the
    * distance to the next pooled cell's lower bound — gaps partition
    * the value range, so the fold is bounded by range·n_a·n_b and the
    * ×1000 lift stays inside DECIMAL(38,0) under the same loud 10⁸
    * rows-per-group bound as [[chi2FromCells]].
    *
    * Physical shape: identical to [[ksStatFromCells]] — every read
    * touches the ≤ ~1k-cell sketch, the pair fan-out is |groups|²
    * sketch-row joins, the per-pair window sorts ≤ ~2k cells; nothing
    * scales with corpus rows.
    *
    * @param cells a [[graft.ops.Sketches.qsketchCells]] frame
    *              (`groupCol`, e, m, cnt); subBits must match the build
    * @return (g_a < g_b, n_a, n_b, w1_milli) — W₁ in value units ×1000
    */
  def wassersteinFromCells(cells: DataFrame, groupCol: String,
                           subBits: Int = 4): DataFrame = {
    require(subBits >= 1 && subBits <= 16,
      s"qsketch needs 1 <= subBits <= 16, got $subBits")
    val counts = cells.select(col(groupCol).cast("string").as("g"),
        col("e").cast("long").as("e"), col("m").cast("long").as("m"),
        col("cnt").cast("long").as("cnt"))
      .localCheckpoint(eager = false) // forked: totals + two pair probes
    val totals = counts.groupBy(col("g")).agg(sum(col("cnt")).as("n"))
      .withColumn("n",
        when(col("n") > 100000000L, raise_error(concat(
          lit("wassersteinFromCells group-size bound: 1e8 rows per group "
            + "keeps gap*(cum*n) and the x1000 lift inside DECIMAL(38,0) "
            + "— sample the group: "),
          col("g")))).otherwise(col("n")))
      .localCheckpoint(eager = false)
    val groups = counts.select(col("g")).distinct()
    val pairs = groups.select(col("g").as("g_a"))
      .crossJoin(groups.select(col("g").as("g_b")))
      .filter(col("g_a") < col("g_b"))
    val pooled = pairs
      .join(counts.select(col("g").as("g_a"), col("e"), col("m")), Seq("g_a"))
      .unionByName(pairs
        .join(counts.select(col("g").as("g_b"), col("e"), col("m")), Seq("g_b"))
        .select(col("g_a"), col("g_b"), col("e"), col("m")))
      .distinct()
    val wCum = Window.partitionBy(col("g_a"), col("g_b"))
      .orderBy(col("e").asc, col("m").asc)
    pooled
      .join(counts.select(col("g").as("g_a"), col("e"), col("m"),
        col("cnt").as("__ca")), Seq("g_a", "e", "m"), "left")
      .join(counts.select(col("g").as("g_b"), col("e"), col("m"),
        col("cnt").as("__cb")), Seq("g_b", "e", "m"), "left")
      .join(totals.select(col("g").as("g_a"), col("n").as("__na")), Seq("g_a"))
      .join(totals.select(col("g").as("g_b"), col("n").as("__nb")), Seq("g_b"))
      .withColumn("__lo",
        expr(s"shiftleft(m, cast(greatest(e - $subBits, 0L) AS int))"))
      .withColumn("__cuma", sum(coalesce(col("__ca"), lit(0L)))
        .over(wCum.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__cumb", sum(coalesce(col("__cb"), lit(0L)))
        .over(wCum.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      // distance to the next pooled cell's lower bound; the largest
      // cell has no successor and carries diff = 0 anyway (both CDFs
      // have reached 1), so the 0 gap is exact, not a truncation
      .withColumn("__gap",
        coalesce(lead(col("__lo"), 1).over(wCum) - col("__lo"), lit(0L)))
      .groupBy(col("g_a"), col("g_b"), col("__na"), col("__nb"))
      .agg(sum(expr(
        """cast(__gap as decimal(38,0)) *
          |abs(cast(__cuma as decimal(38,0)) * __nb
          |    - cast(__cumb as decimal(38,0)) * __na)""".stripMargin))
        .as("__s"))
      .select(col("g_a"), col("g_b"), col("__na").as("n_a"),
        col("__nb").as("n_b"),
        expr("(__s * 1000) div (cast(__na as decimal(38,0)) * __nb)")
          .cast("long").as("w1_milli"))
  }
}
