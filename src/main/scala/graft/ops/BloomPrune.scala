package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFeatures

/** X67: Bloom-filter runtime pruning for selective semi joins — the
  * "does this 100 TB corpus row match the small key set?" primitive
  * (blocklist extraction, contaminated-document pull, targeted
  * re-processing). Spark's own InjectRuntimeFilter does exactly this
  * shape for qualifying shuffle joins; this operator makes it an
  * explicit, deterministic engine primitive the pipeline can apply to
  * any key expression.
  *
  * Shape at scale: the key set aggregates into an m-bit bitmap —
  * m/64 longs, built by ONE map-side-combinable bit_or aggregate and
  * collected to the driver (bounded by construction: 8 KiB at m = 2^16,
  * independent of either table's size — the same bounded-model-state
  * discipline as the k-means centroids). The bitmap enters the big
  * side's scan as an array LITERAL probed by codegen'd integer
  * expressions, so non-matching rows die inside WholeStageCodegen
  * without ever reaching the exchange; only bloom survivors (true
  * matches + false positives) shuffle into the exact semi join that
  * removes the false positives. No false negatives: a Bloom filter
  * never rejects a present key, so the result is EXACTLY the semi
  * join's.
  */
object BloomPrune {

  /** Probe positions: k affine strengthenings of the polynomial hash,
    * (2j+3)·h + (5j+7) mod P mod m — the count-min row-hash family. */
  private def positions(h: Column, mBits: Int, k: Int): Seq[Column] =
    (0 until k).map { j =>
      ((h * (2 * j + 3) + (5 * j + 7)) % TextFeatures.HashMod) % mBits
    }

  /** Build the m-bit bitmap of `keyExpr` over `keys` as m/64 longs.
    * One distinct + one bit_or aggregate; the collect is bounded at
    * m/64 rows whatever |keys| is. */
  def bloomBits(keys: DataFrame, keyExpr: Column, mBits: Int, k: Int): Array[Long] = {
    require(mBits % 64 == 0 && mBits > 0, "mBits must be a positive multiple of 64")
    require(k >= 1 && k <= 8, "bloomBits needs 1 <= k <= 8")
    val h = TextFeatures.charHash(keyExpr)
    val pos = keys.select(explode(array(positions(h, mBits, k): _*)).as("pos")).distinct()
    val words = pos
      .groupBy((col("pos") / 64).cast("int").as("word"))
      .agg(expr("bit_or(shiftleft(1L, cast(pos % 64 AS int)))").as("bits"))
      .collect()
    val arr = new Array[Long](mBits / 64)
    words.foreach(r => arr(r.getInt(0)) = r.getLong(1))
    arr
  }

  /** The codegen'd membership probe: every one of the k positions set.
    * Positions stay < 2^20, so the double-typed `/` is exact before the
    * int cast. */
  private def mightContain(h: Column, bits: Array[Long], mBits: Int, k: Int): Column =
    positions(h, mBits, k).map { p =>
      element_at(typedlit(bits.toSeq), (p / 64).cast("int") + 1)
        .bitwiseAND(call_function("shiftleft", lit(1L), (p % 64).cast("int"))) =!= 0
    }.reduce(_ && _)

  /** Semi join `big` ⋉ `keys` on equality of the two key expressions,
    * bloom-pruned: only rows passing the bitmap probe reach the
    * exchange. Exact — false positives are removed by the real join.
    *
    * @return the matching `big` rows (all columns)
    */
  def prunedSemiJoin(big: DataFrame, keys: DataFrame,
                     bigKey: Column, keysKey: Column,
                     mBits: Int = 1 << 16, k: Int = 2): DataFrame = {
    val bits = bloomBits(keys, keysKey, mBits, k)
    val bh = TextFeatures.charHash(bigKey)
    big.filter(mightContain(bh, bits, mBits, k))
      .join(keys.select(TextFeatures.charHash(keysKey).as("__kh")).distinct(),
        bh === col("__kh"), "left_semi")
  }

  /** X195: measured Bloom FPR — the calibration the theoretical
    * (1−e^(−kn/m))^k curve approximates and deployments should verify:
    * probe the bitmap with keys KNOWN absent (distinct probe hashes
    * anti-joined against the key hashes — "absent" means by the same
    * polynomial hash the filter keys on, the filter's own identity)
    * and count how many pass anyway. The report is what sizes m before
    * a 100 TB scan trusts the prune: bits_set/m is the load factor,
    * fpr_ppm the measured rate — both exact, not modeled.
    *
    * Cost: the bitmap build (one bit_or aggregate, m/64-row collect),
    * one hash anti-join on distinct probe keys, one fold with the
    * probe inside codegen. No new scale shape — this is [[prunedSemiJoin]]'s
    * machinery pointed at itself.
    *
    * @return one row (m_bits, k_hashes, n_keys, bits_set, n_probes,
    *         n_fp, fpr_ppm) — n_probes counts true negatives only
    */
  def fprReport(keys: DataFrame, probes: DataFrame, keyExpr: Column,
                probeExpr: Column, mBits: Int = 1 << 16,
                k: Int = 2): DataFrame = {
    val bits = bloomBits(keys, keyExpr, mBits, k)
    val bitsSet = bits.map(java.lang.Long.bitCount(_).toLong).sum
    val keyH = keys.select(TextFeatures.charHash(keyExpr).as("__h")).distinct()
      .localCheckpoint(eager = false) // forked: anti join + key count
    val neg = probes.select(TextFeatures.charHash(probeExpr).as("__h"))
      .distinct()
      .join(keyH, Seq("__h"), "left_anti")
    neg.agg(count(lit(1)).as("n_probes"),
        sum(when(mightContain(col("__h"), bits, mBits, k), 1L).otherwise(0L))
          .as("n_fp"))
      .crossJoin(broadcast(keyH.agg(count(lit(1)).as("n_keys"))))
      .select(lit(mBits.toLong).as("m_bits"), lit(k.toLong).as("k_hashes"),
        col("n_keys"), lit(bitsSet).as("bits_set"),
        col("n_probes"), col("n_fp"),
        when(col("n_probes") === 0, lit(0L))
          .otherwise(expr("n_fp * 1000000 DIV n_probes")).as("fpr_ppm"))
  }
}
