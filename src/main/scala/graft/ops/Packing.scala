package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence packing: lay the corpus's tokens end-to-end in a canonical
  * document order and cut the stream every `budget` tokens — the
  * document→training-sequence assignment step of an LLM data pipeline
  * (GPT-style boundary-agnostic packing: a document that straddles a
  * cut contributes its tokens to both neighboring sequences).
  *
  * The global token offset of each document is a corpus-wide running
  * sum. The naive spelling — `Window.orderBy(id)` with no partition —
  * funnels the whole corpus through ONE task and is exactly the
  * single-partition window this codebase bans at 100 TB. Instead the
  * classic two-pass distributed prefix sum:
  *
  *   1. range-partition by id and sort within partitions — Spark's
  *      RangePartitioning guarantees partition p holds strictly
  *      smaller ids than p+1, so partition order IS global order;
  *   2. one small aggregate computes per-partition token totals; the
  *      driver folds them into per-partition starting offsets — ONE
  *      (int, long) pair per partition of driver state, the same
  *      bounded-collect budget as the k-means centroid loop
  *      ([[Clustering]]), nothing proportional to rows;
  *   3. a per-partition window cumsum plus the broadcast offset yields
  *      every document's exact global [start, end) token interval, and
  *      `sequence(start div B, (end-1) div B)` explodes it onto the
  *      training sequences it overlaps (integer arithmetic throughout —
  *      no double division anywhere near the 2^53 cliff).
  *
  * The result is layout-independent: wherever the range boundaries
  * fall, offset + local cumsum = the global cumsum over unique ids,
  * so any partitioning of the same rows packs identically
  * ([[PackingSpec]] pins this).
  */
object Packing {

  /** Per-document token-count magnitude cap for [[packSequences]] —
    * bounds the sequence() fan-out a corrupt count would explode. */
  private val PackTokCap = 1L << 40

  /** @param docs   one row per document
    * @param idCol  unique orderable id — packing order and tiebreak
    * @param tokCol per-document token count (cast to long); rows with
    *               a non-positive count carry no tokens and are dropped
    * @param budget tokens per training sequence, > 0
    * @return (seq_id, `idCol`, n_tok): one row per (sequence, document
    *         contributing tokens to it), n_tok = how many of the
    *         document's tokens land in that sequence
    */
  def packSequences(docs: DataFrame, idCol: String, tokCol: Column,
                    budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    // A doc spans ≤ 1 + tok/budget sequences — no blow-up FROM SANE
    // INPUT; a corrupt token count (say 2^60) would still explode its
    // sequence() fan-out and silently hang the job, so magnitude is
    // bounded loudly at 2^40 tokens per document (a real document
    // cannot carry a trillion tokens — past the cap the COUNT is the
    // corruption, and the operator must say so, not enumerate it).
    val guarded = when(tokCol.cast("long") > PackTokCap,
      raise_error(concat(
        lit("packSequences: token count exceeds the 2^40 magnitude cap: "),
        col(idCol).cast("string")))).otherwise(tokCol.cast("long"))
    runningTotals(docs, idCol, guarded)
      .withColumn("__start", col("__end") - col("__val"))
      .withColumn("seq_id",
        explode(expr(s"sequence(__start div ${budget}L, (__end - 1) div ${budget}L)")))
      .select(col("seq_id"), col("__id").as(idCol),
        (least(col("__end"), (col("seq_id") + 1) * budget) -
          greatest(col("__start"), col("seq_id") * budget)).as("n_tok"))
  }

  /** Context-window chunking — packing's dual: where [[packSequences]]
    * concatenates documents into fixed token budgets, chunking SPLITS
    * each document into fixed-size windows with a stride-controlled
    * overlap (the RAG / long-context ingestion cut: stride < chunk
    * keeps every token covered and gives retrieval `chunk − stride`
    * tokens of cross-boundary context).
    *
    * Purely per-row: one explode over `1 + (n−1) div stride` window
    * starts — no shuffle at all beyond the caller's ordering, no
    * driver state, chunk count linear in tokens. The chunk hash is the
    * same code-point polynomial as every dedup hash, so chunk-level
    * dedup composes directly (hash-equal chunks across docs = shared
    * boilerplate at chunk grain).
    *
    * @param chunkTokens window size in tokens, ≥ 1
    * @param stride      window start step, 1 ≤ stride ≤ chunkTokens
    * @return (`idCol`, chunk_id, start_tok, n_tok, chunk_hash): one row
    *         per chunk; chunk_id counts from 0 within each doc;
    *         start_tok is 1-based; the final chunk may be short
    */
  def chunkDocuments(docs: DataFrame, idCol: String, textCol: String,
                     chunkTokens: Int, stride: Int): DataFrame = {
    require(chunkTokens >= 1, s"chunkTokens must be >= 1, got $chunkTokens")
    require(stride >= 1 && stride <= chunkTokens,
      s"stride must be in [1, chunkTokens], got $stride")
    docs
      .select(col(idCol), graft.functions.TextFeatures.tokens(col(textCol)).as("__toks"))
      .filter(size(col("__toks")) >= 1)
      .select(col(idCol), size(col("__toks")).as("__n"),
        explode(transform(
          sequence(lit(0), expr(s"(size(__toks) - 1) div $stride")), k => struct(
            k.cast("long").as("chunk_id"),
            (k * stride + 1).cast("long").as("start_tok"),
            least(lit(chunkTokens), size(col("__toks")) - k * stride)
              .cast("long").as("n_tok"),
            graft.functions.TextFeatures.charHash(concat_ws(" ",
              slice(col("__toks"), k * stride + 1, lit(chunkTokens))))
              .as("chunk_hash")))).as("__c"))
      .select(col(idCol), col("__c.chunk_id"), col("__c.start_tok"),
        col("__c.n_tok"), col("__c.chunk_hash"))
  }

  /** The shared two-pass distributed prefix sum: every row's INCLUSIVE
    * global running total of `valCol` in `idCol` order, with no
    * single-partition window anywhere. Rows with non-positive values
    * carry nothing and are dropped. Packing cuts this stream into
    * sequences; weighted systematic sampling
    * ([[Curation.weightedSystematicSample]]) probes it for step
    * crossings; [[TermStats.vocabularyGrowth]] runs the multi-column
    * core — one machinery, three operators.
    *
    * @return (__id, __val, __end): value and inclusive running sum,
    *         layout-independent
    */
  private[graft] def runningTotals(docs: DataFrame, idCol: String,
                                   valCol: Column): DataFrame =
    runningTotalsMulti(
      docs.select(col(idCol).as("__id"), valCol.cast("long").as("__val"))
        .filter(col("__val") > 0),
      "__id", Seq("__val"))
      .select(col("__id"), col("__val"), col("__val_cum").as("__end"))

  /** Multi-column core of the two-pass prefix sum: the inclusive
    * running total of EVERY column in `valCols` (already cast to long
    * by the caller), all in `idCol` order, sharing one range
    * partitioning, one materialization, and one offsets broadcast.
    * Driver state is #partitions × #columns longs — bounded.
    *
    * @return (__id, valCols..., valCols_cum...): each `c` keeps its
    *         value and gains `c_cum`, layout-independent
    */
  private[graft] def runningTotalsMulti(docs: DataFrame, idCol: String,
                                        valCols: Seq[String]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // Checkpointed so the totals pass and the cumsum pass read one
    // materialization (and __p is frozen with it).
    val ranged = docs
      .select((col(idCol).as("__id") +:
        valCols.map(c => col(c).cast("long").as(c))): _*)
      .repartitionByRange(col("__id"))
      .sortWithinPartitions("__id")
      .select((spark_partition_id().as("__p") +:
        ("__id" +: valCols).map(col)): _*)
      .localCheckpoint()
    // Pass 1: per-partition totals → exclusive prefix = offsets.
    val aggs = valCols.map(c => sum(col(c)).as(c))
    val totals = ranged.groupBy("__p").agg(aggs.head, aggs.tail: _*)
      .collect()
      .map(r => (r.getInt(0), valCols.indices.map(i => r.getLong(i + 1))))
      .sortBy(_._1)
    val running = Array.fill(valCols.size)(0L)
    val offsets = totals.map { case (p, ts) =>
      val o = (p, running.toSeq)
      ts.zipWithIndex.foreach { case (t, i) =>
        // the driver fold is the one place the GLOBAL total lives;
        // a silent wrap here would corrupt every downstream offset
        running(i) =
          try Math.addExact(running(i), t)
          catch { case _: ArithmeticException =>
            throw new IllegalArgumentException(
              s"runningTotals: global sum of ${valCols(i)} overflows Long " +
                "— the corpus total exceeds 2^63 units")
          }
      }
      o
    }.toSeq
    val offDf = offsets.map { case (p, os) => (p, os) }
      .toDF("__p", "__offs")
    // Pass 2: broadcast offsets + per-partition window cumsums.
    val w = Window.partitionBy("__p").orderBy("__id")
    valCols.zipWithIndex.foldLeft(
      ranged.join(broadcast(offDf), Seq("__p"))) { case (df, (c, i)) =>
        df.withColumn(s"${c}_cum",
          col("__offs").getItem(i) + sum(col(c)).over(w))
    }.select((col("__id") +: (valCols.map(col) ++
      valCols.map(c => col(s"${c}_cum")))): _*)
  }

  /** X149: chunking-waste planner — the capacity answer to "what
    * max_len do we train at?" BEFORE paying for a chunking pass
    * ([[chunkDocuments]] executes the winner; this prices every
    * candidate). For each candidate length L, two standard batching
    * strategies are costed in closed form from the corpus's token-length
    * histogram:
    *
    *   - chunk: a doc becomes ⌈len/L⌉ examples padded to L —
    *     pad = ⌈len/L⌉·L − len, waste_ppm = pad·10⁶ div (L·examples);
    *   - truncate: one example, tokens beyond L are lost —
    *     lost_ppm = lost·10⁶ div total_tokens.
    *
    * Shape: ONE map-side-combinable length histogram over the corpus
    * (key = token count, cardinality bounded by the longest doc), a
    * |lengths|×|candidates| literal explode, and a |candidates|-row
    * fold — corpus volume is read once and never shuffled at row
    * grain. All arithmetic is integer-exact ceiling/floor.
    *
    * @return one row per candidate: (max_len, n_docs, n_tokens,
    *         chunk_examples, chunk_pad_tokens, chunk_waste_ppm,
    *         trunc_lost_tokens, trunc_lost_ppm)
    */
  def chunkWastePlan(docs: DataFrame, textCol: String,
                     maxLens: Seq[Int]): DataFrame = {
    require(maxLens.nonEmpty && maxLens.forall(_ >= 1),
      s"chunkWastePlan needs positive candidate lengths: $maxLens")
    import graft.functions.TextFeatures
    val hist = docs
      .select(size(TextFeatures.tokens(col(textCol))).cast("long").as("__len"))
      .groupBy("__len").agg(count(lit(1)).as("__c"))
    hist
      .select(col("__len"), col("__c"),
        explode(array(maxLens.map(l => lit(l.toLong)): _*)).as("max_len"))
      .select(col("max_len"), col("__len"), col("__c"),
        expr("(__len + max_len - 1) div max_len").as("__ex"),
        greatest(col("__len") - col("max_len"), lit(0L)).as("__lost"))
      .groupBy(col("max_len"))
      .agg(sum(col("__c")).as("n_docs"),
        sum(col("__len") * col("__c")).as("n_tokens"),
        sum(col("__ex") * col("__c")).as("chunk_examples"),
        sum((col("__ex") * col("max_len") - col("__len")) * col("__c"))
          .as("chunk_pad_tokens"),
        sum(col("__lost") * col("__c")).as("trunc_lost_tokens"))
      .select(col("max_len"), col("n_docs"), col("n_tokens"),
        col("chunk_examples"), col("chunk_pad_tokens"),
        when(col("chunk_examples") === 0, lit(0L)).otherwise(
          expr("""(cast(chunk_pad_tokens as decimal(38,0)) * 1000000)
                 | div (cast(chunk_examples as decimal(38,0)) * max_len)""".stripMargin)
            .cast("long")).as("chunk_waste_ppm"),
        col("trunc_lost_tokens"),
        when(col("n_tokens") === 0, lit(0L)).otherwise(
          expr("(cast(trunc_lost_tokens as decimal(38,0)) * 1000000) div n_tokens")
            .cast("long")).as("trunc_lost_ppm"))
  }
}
