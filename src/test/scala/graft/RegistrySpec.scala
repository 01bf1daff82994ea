package graft

import java.util.concurrent.{Callable, Executors}

import org.apache.spark.sql.DataFrame

import graft.registry.{Memos, QuerySpec, Registry}

/** The query registry's invariants: one spec per name, every spec with
  * oracle SQL, both `SparkEntry` views over the same 256 names, and each
  * spec's declared memos equal to the memos its build reads — the
  * declaration the runners' memo release is derived from. */
class RegistrySpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("names are unique, every spec has oracle SQL, both views hold 256 names") {
    val names = Registry.specs.map(_.name)
    assert(names.distinct.size == names.size)
    assert(Registry.specs.filter(_.oracleSql.trim.isEmpty).map(_.name).isEmpty)
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.size == 256)
  }

  test("a duplicate name fails the list") {
    val q = Registry.specs.head
    val e = intercept[IllegalArgumentException](
      Registry.unique(Seq(q, QuerySpec(q.name, q.build, "SELECT 1"))))
    assert(e.getMessage.contains(q.name))
  }

  test("every spec declares exactly the memos its build reads") {
    // Memos are keyed by session, so a build on its own fresh session
    // starts from no memo and leaves exactly the memos it read. Four
    // builds run at a time (some builds run eager jobs); each built frame
    // is held to the end so no frame is cleaned while its last job's
    // metrics are still being reported.
    val pool = Executors.newFixedThreadPool(4)
    val built =
      try Registry.specs.map { q =>
        pool.submit(new Callable[(QuerySpec, DataFrame, Set[String])] {
          def call() = {
            val s = spark.newSession()
            val df = q.build(s, sf)
            (q, df, Memos.memoNames(s))
          }
        })
      }.map(_.get)
      finally { pool.shutdown(); Memos.clearMemos() }
    val wrong = built.collect { case (q, _, read) if read != q.memos =>
      s"${q.name}: declares ${q.memos.toSeq.sorted}, reads ${read.toSeq.sorted}"
    }
    assert(wrong.isEmpty, wrong.mkString("\n"))
  }

  test("a memo outlives its last sorted-order consumer only") {
    Memos.clearMemos()
    Memos.minhashPairs(spark, sf)
    // q36 is the last consumer a hand-kept list named; q70 reads it later
    Memos.releaseMemosAfter("q36_dedup_clusters")
    assert(Memos.memoNames(spark) == Set("minhash_pairs"))
    Memos.releaseMemosAfter("q70_deduped_corpus")
    assert(Memos.memoNames(spark).isEmpty)
  }

  test("a subset entry that is a bare query number keeps only that query") {
    def kept(only: String) = Registry.specs.map(_.name).filter(Registry.selects(Some(only))).sorted
    assert(kept("q22,q36,q70").map(_.takeWhile(_ != '_')) == Seq("q22", "q36", "q70"))
    assert(kept("q22_") == kept("q22") && kept("q22").size == 1)
    assert(kept("q22").size < Registry.specs.count(_.name.startsWith("q22")))
    assert(kept("q23_dedup").size == 1)
    assert(kept("nothing_matches").isEmpty)
    assert(Registry.selects(None)("q220_anything"))
    assert(Registry.selects(Some("bucketed"))("bucketed"))
  }
}
