package graft

import graft.registry.Memos

/** Pins the run-scoped lifecycle of the q22/q36 MinHash-chain memo
  * (Memos.minhashPairs): one entry per (session, dataset) key,
  * no growth on repeat use, and clearMemos() actually evicts — so a
  * long-lived service embedding SparkEntry.queries cannot pin
  * checkpointed RDDs (or sessions) for process lifetime.
  */
class MemoSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("memo holds one entry per dataset key, repeat use does not grow it") {
    Memos.clearMemos()
    assert(Memos.memoSize == 0)
    val a = Memos.minhashPairs(spark, sf)
    assert(Memos.memoSize == 1)
    // same key → same memoized frame, no second chain
    val b = Memos.minhashPairs(spark, sf)
    assert(Memos.memoSize == 1)
    assert(a eq b)
    // a distinct dataset key (same data via a trailing slash — the key
    // is the caller-supplied path string) adds exactly one entry
    Memos.minhashPairs(spark, sf + "/")
    assert(Memos.memoSize == 2)
  }

  test("clearMemos evicts everything; next use rebuilds exactly one entry") {
    Memos.minhashPairs(spark, sf)
    assert(Memos.memoSize >= 1)
    Memos.clearMemos()
    assert(Memos.memoSize == 0)
    val c = Memos.minhashPairs(spark, sf)
    assert(Memos.memoSize == 1)
    // the rebuilt frame is usable end-to-end (the checkpoint survived)
    assert(c.columns.toSeq == Seq("id_a", "id_b", "est_jaccard"))
    assert(c.count() >= 0)
    Memos.clearMemos()
  }
}
