package graft

import graft.registry.Memos

/** Pins the between-queries block-release contract: transient
  * localCheckpoint blocks go away synchronously, memo-protected blocks
  * survive AND stay readable (a released localCheckpoint is
  * unrecoverable — lineage was truncated — so protection is
  * correctness, not tuning). */
class BlockReleaseSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("releaseTransient drops a per-query checkpoint block synchronously") {
    Memos.clearMemos()
    BlockRelease.releaseTransient(spark)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val df = Seq(1, 2, 3).toDF("v").localCheckpoint()
    assert(df.count() == 3)
    val created = spark.sparkContext.getPersistentRDDs.keySet.diff(before)
    assert(created.nonEmpty, "localCheckpoint should register a persistent RDD")
    val freed = BlockRelease.releaseTransient(spark)
    assert(freed >= created.size)
    assert(spark.sparkContext.getPersistentRDDs.keySet.intersect(created).isEmpty)
  }

  test("memo-protected checkpoints survive release and stay readable") {
    Memos.clearMemos()
    BlockRelease.releaseTransient(spark)
    val memoDf = Memos.minhashPairs(spark, sf)
    val protectedIds = Memos.protectedRddIds
    assert(protectedIds.nonEmpty, "memo creation should record its checkpoint RDD ids")
    // a transient checkpoint next to the memo
    val transient = Seq(4, 5).toDF("v").localCheckpoint()
    assert(transient.count() == 2)
    BlockRelease.releaseTransient(spark)
    val live = spark.sparkContext.getPersistentRDDs.keySet
    assert(protectedIds.subsetOf(live), "memo blocks must not be released")
    // the memoized frame still computes from its (lineage-truncated) blocks
    assert(memoDf.count() > 0)
    // once memos are cleared, protection lapses and the blocks release
    Memos.clearMemos()
    assert(Memos.protectedRddIds.isEmpty)
    BlockRelease.releaseTransient(spark)
    assert(spark.sparkContext.getPersistentRDDs.keySet
      .intersect(protectedIds).isEmpty)
  }
}
