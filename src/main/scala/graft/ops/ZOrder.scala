package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton) layout clustering — the multi-dimensional data-
  * layout primitive behind Delta/Iceberg `OPTIMIZE ZORDER BY`: files
  * range-partitioned by the bit-interleaved key keep EVERY dimension's
  * per-file min/max span narrow, so a 100 TB scan with a predicate on
  * any clustered dimension prunes most files from footer stats alone —
  * a single-column sort gives that pruning to one dimension and
  * destroys it for the rest.
  *
  * The z-value is a pure bit-shuffle projection (shift/and/or terms,
  * fully inside WholeStageCodegen — no UDF, no shuffle of its own);
  * the layout step is ONE range repartition + within-partition sort,
  * exactly the shuffle a layout rewrite must pay. [[pruningStats]]
  * turns the claimed benefit into a measurable frame: per z-bucket
  * min/max/count of every dimension — the footer stats a pruned scan
  * would consult.
  */
object ZOrder {

  /** Bit-interleaved Morton value of `dims` (each in [0, 2^bitsPerDim)):
    * bit k of dimension i lands at position k·d + i. Built as the
    * bitwise-OR of d·bitsPerDim shift/mask terms — one codegen'd
    * expression, no per-row loop. Out-of-domain inputs (negative, or
    * ≥ 2^bitsPerDim) raise loudly rather than silently aliasing into a
    * neighboring cell. */
  def zValue(dims: Seq[Column], bitsPerDim: Int): Column = {
    val d = dims.size
    require(d >= 2, "z-ordering needs at least 2 dimensions (1 dim = plain sort)")
    require(bitsPerDim >= 1 && d * bitsPerDim <= 63,
      s"d*bitsPerDim must fit a signed long: $d*$bitsPerDim > 63")
    val checked = dims.map { c =>
      val lc = c.cast("long")
      when(lc < 0 || lc >= (1L << bitsPerDim),
        raise_error(concat(lit(s"z-order dimension out of [0, ${1L << bitsPerDim}): "),
          lc.cast("string"))))
        .otherwise(lc)
    }
    checked.zipWithIndex.map { case (c, i) =>
      (0 until bitsPerDim).map { k =>
        shiftleft(shiftright(c, k).bitwiseAND(lit(1L)), k * d + i)
      }.reduce(_ bitwiseOR _)
    }.reduce(_ bitwiseOR _)
  }

  /** Append the z-value column for the named dimension columns. */
  def withZ(df: DataFrame, dims: Seq[String], bitsPerDim: Int,
            zCol: String = "z"): DataFrame =
    df.withColumn(zCol, zValue(dims.map(col), bitsPerDim))

  /** The measurable pruning claim: bucket rows by the TOP `log2Buckets`
    * bits of z (fixed-width, deterministic — no sampled range
    * boundaries) and report each bucket's min/max/count per dimension.
    * Tight per-bucket spans on EVERY dim are exactly what lets a
    * min/max-pruned scan skip buckets for a predicate on any one dim.
    * One map-side-combinable aggregate on a ≤2^log2Buckets key. */
  def pruningStats(df: DataFrame, dims: Seq[String], bitsPerDim: Int,
                   log2Buckets: Int): DataFrame = {
    require(log2Buckets >= 1 && log2Buckets <= dims.size * bitsPerDim,
      "bucket bits must fit inside the z-value width")
    val shift = dims.size * bitsPerDim - log2Buckets
    val z = withZ(df, dims, bitsPerDim, "__z")
    z.groupBy(shiftright(col("__z"), shift).as("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        dims.flatMap(c => Seq(
          min(col(c).cast("long")).as(s"${c}_min"),
          max(col(c).cast("long")).as(s"${c}_max"))): _*)
  }
}
