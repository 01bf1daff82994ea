package graft.ops

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFeatures

/** BPE merge-table training (Sennrich et al. 2016) — the
  * tokenizer-training step of an LLM data pipeline, shaped for Spark's
  * execution model like the k-means loop: the corpus collapses ONCE to
  * its word-frequency vocabulary (pair statistics are weighted by word
  * count, so every later pass runs over |vocab| rows, never corpus
  * rows), each round is one map-side-combinable pair-count aggregate
  * whose argmax comes back via a TakeOrdered limit(1) — the MODEL
  * (merge table) is driver state of `rounds` entries, nothing
  * row-proportional.
  *
  * Determinism (the cross-engine contract): the winning pair breaks
  * frequency ties lexicographically (left asc, right asc), and the
  * merge application is the GREEDY LEFTMOST fold — a left-to-right
  * array fold that joins the current symbol into the previous one
  * whenever they form the winning pair, so "a a a" under merge (a,a)
  * becomes ["aa", "a"], bit-identically in any engine that folds
  * left-to-right (the oracle replays the same fold as a recursive CTE).
  * Symbols start as single characters; non-BMP code points follow the
  * same UTF-16/code-point caveat as frame sampling (ASCII-safe).
  */
object BpeTrainer {

  /** Train `rounds` merges over the corpus's token stream.
    *
    * Driver round-trips are BATCHED: each Spark job collects the top
    * `batchK` pairs (by freq desc, left asc, right asc) and accepts the
    * longest prefix that is provably identical to running the merges
    * one-at-a-time, so a production 32k-merge run is hundreds of jobs,
    * not 32k. The acceptance rule is conservative enough to be exact,
    * not merely heuristic:
    *
    *  - walk candidates in rank order; STOP at the first candidate
    *    sharing a symbol with an already-accepted pair (from there on,
    *    counts may have changed);
    *  - a non-first candidate is accepted only if its count is
    *    STRICTLY greater than (a) the count at the stop point and
    *    (b) the batch's last collected count when the table was
    *    truncated at `batchK` — because a merge (a,b)→ab can only
    *    create new pairs (x,ab)/(ab,y) whose counts are bounded by the
    *    old counts of (x,a)/(b,y), i.e. by the best INTERACTING pair,
    *    and can only shrink the counts of other interacting pairs.
    *    Strictness keeps exact count ties (where the new symbol's
    *    lexicographic name could reorder the tie-break) on the safe
    *    sequential path.
    *
    * With `batchK = 1` the loop is byte-identical to the classic
    * one-merge-per-job trainer; any `batchK` yields the same merge
    * table (pinned by BpeBatchSpec against the sequential path).
    *
    * @return (rnk, left, right, freq): the merge table in training
    *         order — rank r's pair counts are computed AFTER merges
    *         1..r-1 are applied. Stops early (fewer rows) if no pair
    *         remains.
    */
  def trainMerges(docs: DataFrame, textCol: String, rounds: Int,
                  batchK: Int = 64): DataFrame =
    trainMergesWithRounds(docs, textCol, rounds, batchK)._1

  /** [[trainMerges]] plus the number of driver round-trips (Spark jobs)
    * the batching actually spent — the structural cost a 32k-merge
    * production run cares about (StressScale records it). */
  def trainMergesWithRounds(docs: DataFrame, textCol: String, rounds: Int,
                            batchK: Int = 64): (DataFrame, Int) = {
    require(rounds >= 1, "BPE training needs at least one round")
    require(batchK >= 1, s"non-positive merge batch size: $batchK")
    val spark = docs.sparkSession
    // the corpus → word-frequency vocabulary collapse: the ONLY
    // corpus-sized pass in the whole training run
    var words = docs
      .select(explode(TextFeatures.tokens(col(textCol))).as("__w"))
      .groupBy("__w").agg(count(lit(1)).as("__n"))
      .select(split(col("__w"), "").as("__syms"), col("__n"))
      .localCheckpoint()
    val merges = ArrayBuffer.empty[(Long, String, String, Long)]
    var exhausted = false
    var trips = 0
    while (merges.size < rounds && !exhausted) {
      trips += 1
      val k = math.min(batchK, rounds - merges.size)
      val top = words.filter(size(col("__syms")) >= 2)
        .select(col("__n"), explode(transform(
          sequence(lit(1), size(col("__syms")) - 1),
          i => struct(element_at(col("__syms"), i).as("l"),
            element_at(col("__syms"), i + 1).as("r")))).as("__p"))
        .groupBy(col("__p.l").as("l"), col("__p.r").as("r"))
        .agg(sum(col("__n")).as("f"))
        .orderBy(col("f").desc, col("l").asc, col("r").asc)
        .limit(k).collect()
      if (top.isEmpty) exhausted = true
      else {
        // collected fewer than k rows → the table is complete and no
        // unseen pair lurks below the batch; otherwise unseen counts
        // are bounded by the last collected one
        val truncatedFloor = if (top.length < k) -1L else top.last.getLong(2)
        val accepted = ArrayBuffer.empty[(String, String, Long)]
        val usedSyms = scala.collection.mutable.Set.empty[String]
        var stopped = false
        var i = 0
        while (i < top.length && !stopped) {
          val (l, r, f) =
            (top(i).getString(0), top(i).getString(1), top(i).getLong(2))
          if (accepted.isEmpty) {
            // the round's argmax is always sequentially correct
            accepted += ((l, r, f)); usedSyms += l; usedSyms += r
          } else if (usedSyms(l) || usedSyms(r)) {
            stopped = true // counts beyond this point may have moved
          } else if (f > truncatedFloor &&
            (i + 1 >= top.length || f > interactFloor(top, i, usedSyms))) {
            accepted += ((l, r, f)); usedSyms += l; usedSyms += r
          } else {
            stopped = true
          }
          i += 1
        }
        accepted.foreach { case (l, r, f) =>
          merges += ((merges.size + 1L, l, r, f))
        }
        // greedy leftmost merge as a left-to-right fold, chained in
        // rank order for the accepted batch: join the current symbol
        // into the accumulator's last element whenever (last, current)
        // is the winning pair. Chunked 16 folds per projection so the
        // nested-aggregate expression tree stays codegen-sized; each
        // chunk ends in a LAZY checkpoint barrier, so lineage is a few
        // vocab-sized hops per batch, never a 32k-deep expression.
        accepted.grouped(16).foreach { chunk =>
          val folded = chunk.foldLeft(col("__syms")) { case (c, (l, r, _)) =>
            aggregate(c, array().cast("array<string>"),
              (acc, s) => when(
                size(acc) > 0 && element_at(acc, -1) === lit(l) && s === lit(r),
                concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
                .otherwise(concat(acc, array(s))))
          }
          words = words.select(folded.as("__syms"), col("__n"))
            .localCheckpoint(eager = false)
        }
      }
    }
    import spark.implicits._
    (merges.toSeq.toDF("rnk", "left", "right", "freq"), trips)
  }

  /** Max count among NOT-yet-walked batch rows that share a symbol with
    * the accepted set — the exact bound on any pair count a previously
    * accepted merge could have created or left standing among
    * interacting pairs. -1 when nothing below interacts. */
  private def interactFloor(top: Array[org.apache.spark.sql.Row], upto: Int,
                            used: scala.collection.Set[String]): Long = {
    var m = -1L
    var j = upto + 1
    while (j < top.length) {
      if (used(top(j).getString(0)) || used(top(j).getString(1)))
        m = math.max(m, top(j).getLong(2))
      j += 1
    }
    m
  }

  /** Apply an ORDERED merge table to the corpus vocabulary — the
    * tokenizer's segmentation step. Each merge replays the same
    * greedy-leftmost fold as training, in training order (BPE's
    * apply-time contract); the whole application is `merges.size`
    * chained codegen-able fold expressions over the |vocab|-sized
    * frame — the corpus itself is touched only by the initial
    * word-count collapse.
    *
    * @return (word, n, n_syms, segmented): per distinct word, its
    *         corpus frequency, symbol count after all merges, and the
    *         space-joined segmentation
    */
  def applyMerges(docs: DataFrame, textCol: String,
                  merges: Seq[(String, String)]): DataFrame = {
    val vocab = docs
      .select(explode(TextFeatures.tokens(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
      .select(col("word"), col("n"), split(col("word"), "").as("__syms"))
    val segmented = merges.foldLeft(vocab) { case (df, (l, r)) =>
      val m = l + r
      df.withColumn("__syms",
        aggregate(col("__syms"), array().cast("array<string>"),
          (acc, s) => when(
            size(acc) > 0 && element_at(acc, -1) === lit(l) && s === lit(r),
            concat(slice(acc, lit(1), size(acc) - 1), array(lit(m))))
            .otherwise(concat(acc, array(s)))))
    }
    segmented.select(col("word"), col("n"),
      size(col("__syms")).cast("long").as("n_syms"),
      array_join(col("__syms"), " ").as("segmented"))
  }

  /** X164: tokenizer-fit histogram — how well does a merge table fit
    * THIS corpus: the occurrence-weighted distribution of pieces per
    * word after segmentation. The mean of this histogram is the
    * tokenizer's FERTILITY (pieces per word — the number that sets
    * sequence lengths, packing density and training cost downstream);
    * a heavy tail is the domain-mismatch signal (words the merges
    * never learned shatter into characters). All arithmetic rides
    * [[applyMerges]]' vocabulary-bounded frame — corpus volume was
    * already collapsed to (word, count) before any merge ran.
    *
    * @return (n_pieces, n_types, n_occurrences), one row per distinct
    *         piece count
    */
  def fitHistogram(docs: DataFrame, textCol: String,
                   merges: Seq[(String, String)]): DataFrame =
    applyMerges(docs, textCol, merges)
      .groupBy(col("n_syms").as("n_pieces"))
      .agg(count(lit(1)).as("n_types"), sum(col("n")).as("n_occurrences"))
}
