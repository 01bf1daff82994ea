package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{BpeTrainer, FuzzyJoin, TextDedup}

import Shared._

/** Run-scoped memos of the expensive chains several queries share. */
object Memos {

  /** Expensive common prefixes shared by more than one declared query —
    * the MinHash+LSH candidate chain (q22/q36/q138), the exact
    * trigram-Jaccard truth pairs (q24/q138), the edit-distance pair
    * graph (q87/q106), the part co-purchase pair graph (q100/q250/q251)
    * and the HyperBall sketch chain (q250/q251) — are materialized once
    * per (session, dataset, name): localCheckpoint'ed so every consumer
    * reads the same computed RDD instead of re-running the whole chain
    * (the r2 bench paid the minhash chain twice; r10 measured the
    * hyperball chain paid twice and the Jaccard truth chain paid twice).
    * The FIRST consumer pays the build inside its own timed window — the
    * suite still computes every chain exactly once from the parquet
    * inputs; nothing survives across runs.
    *
    * The memo is RUN-SCOPED, not process-scoped: harnesses call
    * [[clearMemos]] per run. An unevictable map would pin the
    * checkpointed RDDs (and their sessions) for process lifetime — a
    * leak in any long-lived service embedding the query map. */
  private val frameMemo =
    scala.collection.mutable.HashMap.empty[(SparkSession, String, String), DataFrame]

  /** Persistent-RDD id backing each memoized frame — the set
    * [[BlockRelease]] must NOT unpersist between queries (a released
    * localCheckpoint is unrecoverable: its lineage was truncated).
    * Captured from the checkpointed frame's own LogicalRDD — NOT by
    * diffing the block store around the build, which over-captures the
    * chain's internal lazy checkpoints (transient by design; the
    * ContextCleaner reclaims them asynchronously, so a diff-captured
    * set decays under it). Keyed like [[frameMemo]] so a single memo
    * can be retired (and its block protection dropped) independently. */
  private val memoRddIds =
    scala.collection.mutable.HashMap.empty[(SparkSession, String, String), Int]

  /** Drop all memoized frames. The released DataFrame references let
    * Spark's ContextCleaner reclaim the checkpoint RDD blocks (or
    * [[BlockRelease.releaseTransient]] reclaims them synchronously once
    * the protection set is emptied here). */
  def clearMemos(): Unit = synchronized { frameMemo.clear(); memoRddIds.clear() }

  def protectedRddIds: Set[Int] = synchronized { memoRddIds.values.toSet }

  private[graft] def memoSize: Int = synchronized { frameMemo.size }

  /** Names of the memos held for session `s`: on a fresh session, after
    * one query build, exactly the memos that build read. */
  private[graft] def memoNames(s: SparkSession): Set[String] = synchronized {
    frameMemo.keySet.collect { case (`s`, _, n) => n }.toSet
  }

  /** Every query that can read each memo — directly or through a
    * dependent memo's build — derived from the specs' declared
    * [[QuerySpec.memos]] (`RegistrySpec` checks each declaration against
    * the memos its build actually reads), so a sorted-order runner can
    * retire a memo (drop its block protection) as soon as its LAST
    * consumer has run, instead of pinning every chain's blocks for the whole pass
    * (r10 verdict: the pinned footprint taxed all ~200 later queries'
    * memory headroom). Releasing early is always SAFE, merely slow: a
    * released memo entry is gone from [[frameMemo]], so an unexpected
    * later consumer rebuilds the chain from the parquet inputs. */
  private[graft] lazy val memoConsumers: Map[String, Seq[String]] =
    Registry.specs.flatMap(q => q.memos.toSeq.map(_ -> q.name))
      .groupMap(_._1)(_._2)

  /** Retire every memo whose consumers have ALL run, given that the
    * suite executes in sorted-name order and `justRan` just finished —
    * called by the runners OUTSIDE any timed window. The next
    * [[BlockRelease.releaseTransient]] then reclaims the blocks. */
  def releaseMemosAfter(justRan: String): Unit = synchronized {
    val done = frameMemo.keys.filter { case (_, _, n) =>
      memoConsumers.get(n).exists(_.forall(_ <= justRan))
    }.toSeq
    done.foreach { k => frameMemo.remove(k); memoRddIds.remove(k) }
  }

  /** Build-or-reuse a named shared chain. LAZY checkpoint: the chain
    * fuses into the first consumer's own action (one pass computes the
    * chain AND that consumer's aggregation, persisting the blocks as a
    * side effect), where the r10 eager spelling ran the build as a
    * separate job and re-read the blocks — the measured q138/q139
    * first-consumer regression (driver: 9.4→22.9 s / 2.3→7.7 s). */
  private def memo(name: String, s: SparkSession, d: String)
                  (build: => DataFrame): DataFrame = synchronized {
    frameMemo.getOrElseUpdate((s, d, name), {
      val df = build.localCheckpoint(eager = false)
      df.queryExecution.analyzed.foreach {
        case lr: org.apache.spark.sql.execution.LogicalRDD =>
          memoRddIds((s, d, name)) = lr.rdd.id
        case _ => ()
      }
      df
    })
  }

  def minhashPairs(s: SparkSession, d: String): DataFrame =
    memo("minhash_pairs", s, d) {
      TextDedup.minhashCandidates(
        demoCorpus(Tables.documents(s, d)), "doc_id", "text")
    }

  /** Exact trigram-Jaccard pairs over the demo corpus — the q24 query
    * body and q138's truth side, one spelling. */
  def ngramTruthPairs(s: SparkSession, d: String): DataFrame =
    memo("ngram_truth_pairs", s, d) {
      TextDedup.ngramJaccardPairs(demoCorpus(Tables.documents(s, d)),
        "doc_id", "text", maxShingleDf = StopShingleDf)
    }

  /** Edit-distance pair graph over the 30-char prefixes + one-deletion
    * mutants — the q87 query body and q106's cluster input, one
    * spelling. */
  def editJoinPairs(s: SparkSession, d: String): DataFrame =
    memo("edit_join_pairs", s, d) {
      val base = Tables.documents(s, d)
        .select(col("doc_id"), substring(col("text"), 1, 30).as("s"))
      val mut = base.filter(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 40000).as("doc_id"),
          concat(substring(col("s"), 1, 10), expr("substring(s, 12)")).as("s"))
      FuzzyJoin.editDistanceJoin(base.unionByName(mut), "doc_id", "s",
        maxDist = 2, minLen = 12)
    }

  /** Weighted part co-purchase pair graph ((a, b) with a < b, weight =
    * distinct orders sharing the pair), shared by q100 (weights), q101,
    * q131, q250 and q251 (pair set). One collect_set shuffle + in-core
    * pair expansion ([[graft.ops.GraphRank.keyedValuePairs]]) replaces
    * the old distinct + per-order self-join — same (a, b, w) rows
    * (baskets hold ≤ 7 lineitems at any TPC-H scale, so the per-order
    * expansion is a bounded constant). */
  def coPurchasePairs(s: SparkSession, d: String): DataFrame =
    memo("copurchase_pairs", s, d) {
      graft.ops.GraphRank.keyedValuePairs(
          Tables.lineitem(s, d)
            .select(col("l_orderkey").as("o"), col("l_partkey").as("p")),
          "o", "p")
        .groupBy(col("a"), col("b"))
        .agg(count(lit(1)).as("w"))
    }

  /** HyperBall sketch estimates over the co-purchase pair set — q250's
    * query body and q251's input, one spelling. */
  def coPurchaseBalls(s: SparkSession, d: String): DataFrame =
    memo("copurchase_balls", s, d) {
      graft.ops.GraphRank.hyperBall(
        coPurchasePairs(s, d).select(col("a"), col("b")), radii = 2)
    }

  /** Distinct directed supplier→part edge list (suppkey·2 → partkey·2+1,
    * the disjoint-id remap) — the shared input of the q63/q68/q110/
    * q115/q117/q118 graph family. Each operator still applies its own
    * `.distinct()` internally (contract unchanged); the memo removes the
    * repeated lineitem scan + 600k-row dedup shuffle per query. */
  def supplierPartEdges(s: SparkSession, d: String): DataFrame =
    memo("supplier_part_edges", s, d) {
      Tables.lineitem(s, d).select(
        (col("l_suppkey") * 2).as("src"),
        (col("l_partkey") * 2 + 1).as("dst")).distinct()
    }

  /** Duplicate-cluster labels over the ≥0.75 MinHash pairs — the
    * connected-components pass shared verbatim by q36 and q147. */
  def minhashClusters(s: SparkSession, d: String): DataFrame =
    memo("minhash_cc_labels", s, d) {
      graft.ops.ConnectedComponents.labels(
        minhashPairs(s, d).filter(col("est_jaccard") >= 0.75)
          .select(col("id_a").as("a"), col("id_b").as("b")))
    }

  /** The 3-round BPE merge table over the fanned corpus — trained once,
    * read by q77 (table), q78 (segmentation) and q139 (fertility). */
  def bpeMergeTable(s: SparkSession, d: String): DataFrame =
    memo("bpe_merges", s, d) {
      BpeTrainer.trainMerges(docsFanned(s, d), "text", 3)
    }

  /** The corpus vocabulary segmented under [[bpeMergeTable]] — q78's
    * query body and q139's aggregation input, one spelling. */
  def bpeSegmented(s: SparkSession, d: String): DataFrame =
    memo("bpe_segmented", s, d) {
      val table = bpeMergeTable(s, d)
        .orderBy(col("rnk")).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      BpeTrainer.applyMerges(docsFanned(s, d), "text", table)
    }
}
