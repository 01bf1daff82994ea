package graft

import org.apache.spark.sql.functions._

import graft.ops.BloomPrune

class BloomPruneSpec extends SparkSpec {
  import spark.implicits._

  private val big = (1 to 2000).map(i => (i.toLong, s"key$i")).toDF("id", "k")
  private val keys = (1 to 2000).filter(_ % 37 == 0)
    .map(i => s"key$i").toDF("bk")

  test("pruned semi join == plain semi join (false positives removed)") {
    val got = BloomPrune.prunedSemiJoin(big, keys, col("k"), col("bk"))
      .select("id").as[Long].collect().toSet
    val exp = (1 to 2000).filter(_ % 37 == 0).map(_.toLong).toSet
    assert(got == exp)
  }

  test("bloom probe passes every present key (no false negatives) and prunes hard") {
    // every true match must survive the probe: 2000/37 = 54 true matches
    assert(BloomPrune.prunedSemiJoin(big, keys, col("k"), col("bk")).count() == 54L)
    // of the other 1946 keys the probe passes only the false positives;
    // with m=65536 bits, k=2, 54 keys: false-positive rate ~ (108/65536)^2
    // — essentially zero at this size; allow a loose factor anyway
    val (absent, fps) = BloomPrune.fprReport(keys, big, col("bk"), col("k"))
      .select("n_probes", "n_fp").as[(Long, Long)].collect().head
    assert(absent == 1946L)
    val survivors = 54L + fps
    assert(survivors <= 200L, s"bloom pruned too little: $survivors/2000 survive")
  }

  test("tiny bitmap still exact, just prunes less") {
    val got = BloomPrune.prunedSemiJoin(big, keys, col("k"), col("bk"),
        mBits = 64, k = 2)
      .select("id").as[Long].collect().toSet
    assert(got == (1 to 2000).filter(_ % 37 == 0).map(_.toLong).toSet)
  }

  test("empty key set matches nothing") {
    val got = BloomPrune.prunedSemiJoin(big, keys.filter(col("bk") === "nope"),
      col("k"), col("bk"))
    assert(got.count() == 0L)
  }

  test("fprReport matches the bit-level model; members never probed") {
    import org.apache.spark.unsafe.types.UTF8String
    val m = 64; val k = 2
    def hash(s: String): Long =
      graft.functions.PolyHash.hash(UTF8String.fromString(s))
    def positions(h: Long): Seq[Long] =
      (0 until k).map(j => ((h * (2 * j + 3) + (5 * j + 7)) % 1000000007L) % m)
    val keyStrs = (0 until 10).map(i => s"key$i")
    val probeStrs = keyStrs ++ (0 until 200).map(i => s"probe$i")
    val setBits = keyStrs.flatMap(s => positions(hash(s))).toSet
    val keyHashes = keyStrs.map(hash).toSet
    val negs = probeStrs.map(hash).distinct.filterNot(keyHashes)
    val fps = negs.count(h => positions(h).forall(setBits))
    val got = BloomPrune.fprReport(
        keyStrs.toDF("kk"), probeStrs.toDF("pk"), col("kk"), col("pk"), m, k)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().head
    assert(got == ((m.toLong, k.toLong, 10L, setBits.size.toLong,
      negs.size.toLong, fps.toLong, fps * 1000000L / negs.size)))
    assert(fps > 0, "64-bit bitmap at 10 keys x 2 hashes must show FPs")
  }
}
