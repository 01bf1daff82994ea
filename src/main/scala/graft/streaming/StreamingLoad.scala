package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType

import graft.store.TableStore

/** Structured Streaming surface (SURVEY §2.9). The reference is a
  * batch-per-month program whose idempotence comes from conflict policies
  * (`ON CONFLICT DO NOTHING` / upsert); its continuous-operation story is
  * therefore: watch a staging directory, run the SAME load program on
  * each new file batch. That is exactly `readStream` + `foreachBatch`
  * here — the batch dataflow is reused verbatim, so batch and streaming
  * cannot drift apart.
  *
  * The windowed / stateful operators below are beyond-reference
  * extensions (the reference has no event-time semantics at all).
  */
object StreamingLoad {

  /** Continuous monthly ingestion: stream CSV files landing in
    * `stagingDir`, run the append-ignore load per micro-batch. Exactly-
    * once effect comes from the load policy itself (PK anti-join makes
    * re-delivered rows no-ops), not from sink transactions — the same
    * idempotence argument the reference makes for re-runs.
    */
  def fileLoadStream(spark: SparkSession, stagingDir: String, schema: StructType,
                     store: TableStore, table: String,
                     sep: String = ";"): DataStreamWriter[org.apache.spark.sql.Row] = {
    spark.readStream
      .schema(schema)
      .option("sep", sep)
      .option("header", "true")
      .csv(stagingDir)
      .writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        store.appendIgnore(table, batch): Unit
      }
  }

  /** Event-time hourly aggregation with a watermark — the streaming form
    * of the batch q19 (`date_trunc('hour') groupBy`): late rows beyond
    * the watermark are dropped instead of growing state forever. */
  def eventsHourly(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
      .select(col("window.start").as("hour"), col("event_type"), col("n"), col("total"))

  /** Streaming exact dedup — the continuous twin of the batch X1
    * operator: emit only the first arrival of each text.
    * `dropDuplicatesWithinWatermark` keeps dedup STATE only until the
    * watermark passes an entry — the difference between bounded and
    * unbounded state at stream scale (plain `dropDuplicates` on a
    * stream retains every key forever). Re-delivery of a text after the
    * watermark horizon re-emits it; the downstream append-ignore sink
    * absorbs that, same idempotence argument as [[fileLoadStream]].
    *
    * The state key is (xxhash64, length, charHash) rather than the text
    * itself: fixed-width state per entry, and two INDEPENDENT 64-bit and
    * 30-bit hashes plus the length make a false merge (~2^-90 per pair)
    * negligible even at stream scale — unlike the single 30-bit hash,
    * whose birthday collisions at ~10^5 in-window texts would silently
    * drop distinct documents (the batch path's (hash, text) grouping
    * guards exactly this; carrying full text in streaming state is the
    * alternative if absolute exactness outweighs state size).
    */
  def dedupStream(docs: DataFrame, textCol: String, tsCol: String,
                  watermarkDelay: String = "1 hour"): DataFrame = {
    docs
      .withWatermark(tsCol, watermarkDelay)
      .withColumn("__h1", xxhash64(col(textCol)))
      .withColumn("__h2", length(col(textCol)))
      .withColumn("__h3", graft.functions.TextFeatures.charHash(col(textCol)))
      .dropDuplicatesWithinWatermark("__h1", "__h2", "__h3")
      .drop("__h1", "__h2", "__h3")
  }

  // ---- custom state: KMV distinct sketch (mapGroupsWithState) ----------

  final case class KmvOut(group: String, n_kept: Long, kmv_est: Long)

  /** Streaming KMV distinct sketch — the continuous twin of the batch
    * X35 operator ([[graft.ops.Sketches]]): per-group state is the
    * bottom-k set of 2-universal-mixed hashes, merged by min — bounded
    * at k longs per group FOREVER (the whole point of a sketch as
    * streaming state: an exact distinct-count state grows with the
    * distinct set; this one never does). Each update-mode trigger emits
    * the refreshed estimate for groups that saw data.
    *
    * Arrival order cannot perturb the result: a bottom-k set is a
    * commutative, idempotent merge, so the post-stream sketch equals
    * the batch sketch over the union of all batches (pinned by spec).
    */
  def kmvStream(rows: DataFrame, groupCol: String, valueCol: String,
                k: Int = 64): Dataset[KmvOut] = {
    val spark = rows.sparkSession
    import spark.implicits._
    val hashMod = graft.functions.TextFeatures.HashMod
    rows
      .select(col(groupCol).cast("string").as("g"),
        graft.ops.Sketches.mix(
          graft.functions.TextFeatures.charHash(col(valueCol))).as("mx"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[Array[Long], KmvOut](GroupStateTimeout.NoTimeout) {
        (group: String, rows: Iterator[(String, Long)], state: GroupState[Array[Long]]) =>
          val prev = state.getOption.getOrElse(Array.empty[Long])
          // min-merge: union, distinct, keep the k smallest
          val merged = (prev ++ rows.map(_._2)).distinct.sorted.take(k)
          state.update(merged)
          val est =
            if (merged.length < k) merged.length.toLong
            else (k - 1).toLong * hashMod / merged.last
          KmvOut(group, merged.length.toLong, est)
      }
  }

  // ---- stream-static join: incremental dedup against the LSH index -----

  /** Streaming twin of [[graft.ops.TextDedup.minhashCandidatesAgainst]]:
    * documents ARRIVE as a stream and are deduplicated against the
    * STATIC persisted corpus band index
    * ([[graft.ops.TextDedup.corpusBandIndex]]) via a stream-static
    * equi-join on (band, bucket) — Spark re-plans the static side per
    * micro-batch, no state is kept, and the corpus is never self-paired.
    * Output mode Append; a document colliding with the same corpus doc
    * in several bands emits that pair once per band (stateless by
    * design — a stateful distinct would grow unboundedly on an
    * unbounded stream; collapse downstream per micro-batch if needed,
    * [[StreamingSpec]] compares the DISTINCT set to the batch operator).
    */
  def dedupAgainstCorpusStream(newDocs: DataFrame, corpusBands: DataFrame,
                               idCol: String, textCol: String,
                               shingleN: Int = 3, k: Int = 16,
                               bands: Int = 4): DataFrame = {
    val a = graft.ops.TextDedup
      .bandedSigsStreamSafe(newDocs, idCol, textCol, shingleN, k, bands)
      .select(col("band"), col("bucket"), col("id").as("id_new"),
        col("__sig").as("sig_a"))
    val b = corpusBands
      .select(col("band"), col("bucket"), col("id").as("id_corpus"),
        col("__sig").as("sig_b"))
    a.join(b, Seq("band", "bucket"))
      .select(col("id_new"), col("id_corpus"),
        (size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y),
          e => e)).cast("double") / k).as("est_jaccard"))
  }

  // ---- custom state: count-min sketch (mapGroupsWithState) -------------

  final case class CmOut(j: Int, cell: Long, cnt: Long)

  /** Streaming twin of [[graft.ops.Sketches.countMinCells]]: the
    * depth×width counter matrix as keyed state — one LONG per (row,
    * cell) key, ≤ depth·width keys total, so state is bounded no matter
    * how long the stream runs. Counter addition is commutative and
    * associative, so after any batch arrival order the matrix equals
    * the batch sketch over the union of batches ([[StreamingSpec]] pins
    * stream ≡ batch), and each trigger emits the updated cells — a
    * continuously-current heavy-hitter sketch over the document feed.
    */
  def countMinStream(docs: DataFrame, textCol: String,
                     depth: Int = 3, width: Int = 512): Dataset[CmOut] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val p = graft.functions.TextFeatures.HashMod
    docs
      .select(explode(graft.functions.TextFeatures.tokens(col(textCol))).as("__tok"))
      .select(graft.functions.TextFeatures.charHash(col("__tok")).as("__h"))
      .select(explode(array((0 until depth).map(j =>
        struct(lit(j).as("j"),
          (((lit(2L * j + 3) * col("__h") + lit(5L * j + 7)) % p) % width)
            .as("cell"))): _*)).as("__jc"))
      .select(col("__jc.j").as("j"), col("__jc.cell").as("cell"))
      .as[(Int, Long)]
      .groupByKey(identity)
      .mapGroupsWithState[Long, CmOut](GroupStateTimeout.NoTimeout) {
        (key: (Int, Long), rows: Iterator[(Int, Long)], state: GroupState[Long]) =>
          val next = state.getOption.getOrElse(0L) + rows.size
          state.update(next)
          CmOut(key._1, key._2, next)
      }
  }

  final case class HllOut(group: String, bucket: Long, register: Long)

  /** Streaming twin of [[graft.ops.Sketches.hllRegisters]]: the
    * register maxima as keyed state — ONE long per occupied (group,
    * bucket), capped at 2^p entries per group whatever the stream's
    * cardinality (the whole point of the register sketch). Max-merge
    * is commutative and idempotent, so the post-stream registers equal
    * the batch registers over the union of all batches under any
    * arrival order or trigger boundary (pinned by spec).
    */
  def hllStream(rows: DataFrame, groupCol: String, valueCol: String,
                p: Int = 6): Dataset[HllOut] = {
    val spark = rows.sparkSession
    import spark.implicits._
    graft.ops.Sketches
      .hllRhoRows(rows.select(col(groupCol).cast("string").as("g"),
        col(valueCol)), "g", col(valueCol), p)
      .as[(String, Long, Long)]
      .groupByKey(t => (t._1, t._2))
      .mapGroupsWithState[Long, HllOut](GroupStateTimeout.NoTimeout) {
        (key: (String, Long), rows: Iterator[(String, Long, Long)],
         state: GroupState[Long]) =>
          val next = math.max(state.getOption.getOrElse(0L),
            rows.map(_._3).max)
          state.update(next)
          HllOut(key._1, key._2, next)
      }
  }

  final case class QsketchOut(group: String, e: Long, m: Long, cnt: Long)

  /** Streaming twin of [[graft.ops.Sketches.qsketchCells]]: the
    * log-linear quantile histogram as keyed state — one LONG per
    * occupied (group, e, m) cell, ≤ ~2^subBits·64 cells per group
    * whatever the stream's value range (the sketch's whole point).
    * Cell counts add — commutative and associative — so the
    * post-stream cells equal the batch sketch over the union of all
    * micro-batches under any arrival order or trigger boundary
    * (pinned by spec), and [[graft.ops.Sketches.qsketchQuantiles]]
    * reads quantiles off the emitted cells at any trigger: a
    * continuously-current latency/length distribution over the feed.
    */
  def qsketchStream(rows: DataFrame, groupCol: String, valueCol: String,
                    subBits: Int = 4): Dataset[QsketchOut] = {
    val spark = rows.sparkSession
    import spark.implicits._
    graft.ops.Sketches
      .qsketchKeyRows(rows.select(col(groupCol).cast("string").as("g"),
        col(valueCol)), "g", col(valueCol), subBits)
      .as[(String, Long, Long)]
      .groupByKey(t => (t._1, t._2, t._3))
      .mapGroupsWithState[Long, QsketchOut](GroupStateTimeout.NoTimeout) {
        (key: (String, Long, Long), rows: Iterator[(String, Long, Long)],
         state: GroupState[Long]) =>
          val next = state.getOption.getOrElse(0L) + rows.size
          state.update(next)
          QsketchOut(key._1, key._2, key._3, next)
      }
  }

  final case class DriftOut(group: String, n_base: Long, n_live: Long,
                            ks_ppm: Long, l1_ppm: Long)

  /** Streaming drift monitor — the stream-side read path for the X198/
    * X199 bounded-state drift tier (drift IS the streaming use case:
    * "has production moved off the release baseline?" asked
    * continuously, not at the next batch audit). Per group, keyed
    * state holds the live qsketch cell map (≤ ~2^subBits·64 longs —
    * the X178 bound, whatever the stream volume); each trigger folds
    * the micro-batch's cell keys in and emits the exact-integer KS and
    * L1 statistics against a PINNED baseline snapshot (a
    * [[graft.ops.Sketches.qsketchCells]] frame of the reference
    * corpus, collected once at query start — tiny by the same bound).
    *
    * The arithmetic is the batch operators' spelling verbatim (BigInt
    * cross-multiplied max CDF gap; floor-div shares), so after any
    * trigger the emission per group equals
    * [[graft.ops.Profiler.ksStatFromCells]] /
    * [[graft.ops.Profiler.driftFromCells]] over (baseline, union of
    * all arrivals so far) — pinned by spec across trigger cuts like
    * the other streaming twins. A group with NO baseline cells reads
    * total drift by contract: ks_ppm = 10⁶, l1_ppm = Σ live shares
    * (everything it carries is new).
    */
  def driftStream(rows: DataFrame, groupCol: String, valueCol: String,
                  baselineCells: DataFrame, subBits: Int = 4): Dataset[DriftOut] = {
    val spark = rows.sparkSession
    import spark.implicits._
    // (e+1) << 32 | m sorts exactly like (e, m): e+1 ≥ 0, 0 ≤ m < 2^32
    def enc(e: Long, m: Long): Long = ((e + 1) << 32) | m
    // a qsketchCells frame: (group, e, m, cnt) with the group first
    val base: Map[String, Map[Long, Long]] = baselineCells
      .select(col(baselineCells.columns.head).cast("string").as("g"),
        col("e").cast("long"), col("m").cast("long"), col("cnt").cast("long"))
      .collect()
      .groupBy(_.getString(0))
      .view.mapValues(_.map(r =>
        enc(r.getLong(1), r.getLong(2)) -> r.getLong(3)).toMap)
      .toMap
    graft.ops.Sketches
      .qsketchKeyRows(rows.select(col(groupCol).cast("string").as("g"),
        col(valueCol)), "g", col(valueCol), subBits)
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[Map[Long, Long], DriftOut](GroupStateTimeout.NoTimeout) {
        (g: String, it: Iterator[(String, Long, Long)],
         state: GroupState[Map[Long, Long]]) =>
          val cur = scala.collection.mutable.Map.empty[Long, Long] ++
            state.getOption.getOrElse(Map.empty)
          it.foreach { t =>
            val k = enc(t._2, t._3)
            cur.update(k, cur.getOrElse(k, 0L) + 1L)
          }
          state.update(cur.toMap)
          val b = base.getOrElse(g, Map.empty)
          val nb = b.valuesIterator.sum
          val nl = cur.valuesIterator.sum
          val keys = (b.keySet ++ cur.keySet).toSeq.sorted
          if (nb == 0L || nl == 0L) {
            // one side empty: total drift by contract (see Scaladoc)
            val live = if (nl == 0L) b else cur
            val n = math.max(nb, nl)
            val l1 = live.valuesIterator.map(c => c * 1000000L / n).sum
            DriftOut(g, nb, nl, 1000000L, l1)
          } else {
            var cumB = 0L; var cumL = 0L
            var d = BigInt(0); var l1 = 0L
            keys.foreach { k =>
              val cb = b.getOrElse(k, 0L); val cl = cur.getOrElse(k, 0L)
              cumB += cb; cumL += cl
              d = d.max((BigInt(cumB) * nl - BigInt(cumL) * nb).abs)
              l1 += math.abs(cb * 1000000L / nb - cl * 1000000L / nl)
            }
            DriftOut(g, nb, nl,
              ((d * 1000000L) / (BigInt(nb) * nl)).toLong, l1)
          }
      }
  }

  final case class CusumOut(group: String, t: Long, v: Long,
                            s_pos: Long, s_neg: Long, alarm: Long)

  /** Streaming twin of [[graft.ops.Behavior.cusumSeries]] — the
    * sequential level-shift alarm running ON the stream it was designed
    * for: per-group state is THREE prefix longs (running sum of
    * deviations, its running min and max) plus the last timestamp, so
    * the prefix identity S_t = cum − min(0, min cum) gives both
    * one-sided statistics exactly at every trigger — bit-identical to
    * the batch operator at each trigger-cut point (spec-pinned), state
    * four longs per group forever.
    *
    * Ordering contract (the stream form of the batch op's duplicate
    * raise): per group, points must arrive in strictly increasing `t`
    * across and within triggers — an out-of-order or duplicate point
    * raises loudly, because a silently order-dependent alarm is the
    * one thing a monitor must never be. A late-data deployment puts a
    * watermarked pre-aggregation in front (the q237 daily compaction),
    * which restores monotone emission order.
    *
    * Emits the group's LATEST point per trigger (Update mode), carrying
    * the same (s_pos, s_neg, alarm) columns as the batch frame.
    */
  def cusumStream(rows: DataFrame, groupCol: String, tCol: String,
                  valueCol: String, ref: Long,
                  threshold: Long): Dataset[CusumOut] = {
    require(threshold > 0, s"alarm threshold must be positive: $threshold")
    val spark = rows.sparkSession
    import spark.implicits._
    rows.select(col(groupCol).cast("string").as("g"),
        col(tCol).cast("long").as("t"), col(valueCol).cast("long").as("v"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[Array[Long], CusumOut](GroupStateTimeout.NoTimeout) {
        (g: String, it: Iterator[(String, Long, Long)],
         state: GroupState[Array[Long]]) =>
          // state = [lastT, cum, minCum, maxCum]; sentinel lastT = MinValue
          val st = state.getOption.getOrElse(
            Array(Long.MinValue, 0L, 0L, 0L))
          var lastT = st(0); var cum = st(1); var mn = st(2); var mx = st(3)
          var lastV = 0L
          it.toSeq.sortBy(_._2).foreach { case (_, t, v) =>
            if (t <= lastT)
              throw new IllegalArgumentException(
                s"cusumStream: non-increasing point t=$t after t=$lastT for " +
                  s"group $g — pre-aggregate/watermark upstream (an " +
                  "order-dependent alarm must raise, not guess)")
            lastT = t; lastV = v
            cum += v - ref
            if (cum < mn) mn = cum
            if (cum > mx) mx = cum
          }
          state.update(Array(lastT, cum, mn, mx))
          val sPos = cum - math.min(0L, mn)
          val sNeg = math.max(0L, mx) - cum
          CusumOut(g, lastT, lastV, sPos, sNeg,
            if (sPos > threshold || sNeg > threshold) 1L else 0L)
      }
  }

  // ---- custom state: dataset content digest (mapGroupsWithState) -------

  final case class DigestOut(shard: Long, n_rows: Long, xor_h: Long,
                             sum_h: Long, min_h: Long, max_h: Long)

  /** Streaming twin of [[graft.ops.Profiler.datasetDigest]] — the
    * continuously-maintained corpus fingerprint: per-shard state is the
    * five digest monoid values (count, xor, sum, min, max), each a
    * commutative+associative merge, so the post-stream digest equals
    * the batch digest over the union of all micro-batches REGARDLESS
    * of arrival order or batch cuts (pinned by spec). State per shard
    * is five longs forever — the sketch-state discipline of
    * [[kmvStream]]/[[countMinStream]], here with an EXACT digest
    * because the monoid is lossless.
    */
  def digestStream(rows: DataFrame, shardExpr: Column,
                   cols: Seq[Column]): Dataset[DigestOut] = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows
      .select(shardExpr.cast("long").as("s"),
        graft.ops.Profiler.rowHash(cols).as("h"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[Array[Long], DigestOut](GroupStateTimeout.NoTimeout) {
        (shard: Long, rows: Iterator[(Long, Long)], state: GroupState[Array[Long]]) =>
          val s = state.getOption
            .getOrElse(Array(0L, 0L, 0L, Long.MaxValue, Long.MinValue))
          rows.foreach { case (_, h) =>
            s(0) += 1; s(1) ^= h; s(2) += h
            s(3) = math.min(s(3), h); s(4) = math.max(s(4), h)
          }
          state.update(s)
          DigestOut(shard, s(0), s(1), s(2), s(3), s(4))
      }
  }

  final case class PiiOut(source: String, n_docs: Long, n_tokens: Long,
                          n_emails: Long, n_phones: Long,
                          docs_with_pii: Long, pii_per_mtok: Long)

  /** Streaming twin of X157
    * ([[graft.ops.Profiler.piiDensityBySource]]) — the PII release
    * gate as a LIVE monitor over an ingest stream: five longs of keyed
    * state per source (docs, tokens, emails, phones, flagged docs),
    * updated by pure addition — any batch cut converges to the batch
    * rollup. Detection runs with the SAME regexes as the scrub pass,
    * per row, BEFORE the stateful step; the per-mtok rate derives on
    * emit exactly as the batch op spells it.
    */
  def piiDensityStream(docs: DataFrame, sourceCol: String,
                       textCol: String): Dataset[PiiOut] = {
    val spark = docs.sparkSession
    import spark.implicits._
    import graft.functions.{TextAnalysis, TextFeatures}
    docs
      .select(col(sourceCol).as("s"),
        size(TextFeatures.tokens(col(textCol))).cast("long").as("t"),
        size(regexp_extract_all(col(textCol),
          lit(TextAnalysis.EmailRe), lit(0))).cast("long").as("e"),
        size(regexp_extract_all(col(textCol),
          lit(TextAnalysis.PhoneRe), lit(0))).cast("long").as("p"))
      .as[(String, Long, Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[Array[Long], PiiOut](GroupStateTimeout.NoTimeout) {
        (src: String, rows: Iterator[(String, Long, Long, Long)],
         state: GroupState[Array[Long]]) =>
          val s = state.getOption.getOrElse(Array(0L, 0L, 0L, 0L, 0L))
          rows.foreach { case (_, t, e, p) =>
            s(0) += 1; s(1) += t; s(2) += e; s(3) += p
            if (e + p > 0) s(4) += 1
          }
          state.update(s)
          val rate = if (s(1) == 0) 0L else (s(2) + s(3)) * 1000000L / s(1)
          PiiOut(src, s(0), s(1), s(2), s(3), s(4), rate)
      }
  }

  final case class ContractOut(check: String, n_rows: Long,
                               violations: Long, violation_ppm: Long)

  /** Streaming twin of X110 ([[graft.ops.Profiler.contractChecks]]) —
    * the continuous data-quality monitor: per-check running row and
    * violation counts as two longs of keyed state, updated by pure
    * addition so ANY batch cut or arrival order converges to the batch
    * sweep's counts. Each row still explodes into |checks| structs
    * BEFORE the stateful step, so per-batch work is one pass over the
    * rows and state stays |checks| entries forever. ppm uses the same
    * truncating integer division as the batch operator.
    */
  def contractStream(rows: DataFrame,
                     checks: Seq[(String, Column)]): Dataset[ContractOut] = {
    val spark = rows.sparkSession
    import spark.implicits._
    require(checks.nonEmpty, "contractStream needs at least one check")
    val pairs = checks.map { case (nm, pred) =>
      struct(lit(nm).as("c"), when(pred, 1L).otherwise(0L).as("v")) }
    rows.select(explode(array(pairs: _*)).as("p"))
      .select(col("p.c"), col("p.v")).as[(String, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[(Long, Long), ContractOut](GroupStateTimeout.NoTimeout) {
        (check: String, it: Iterator[(String, Long)], state: GroupState[(Long, Long)]) =>
          var (n, v) = state.getOption.getOrElse((0L, 0L))
          it.foreach { case (_, x) => n += 1; v += x }
          state.update((n, v))
          ContractOut(check, n, v, v * 1000000L / n)
      }
  }

  final case class BenfordOut(col_name: String, digit_counts: Seq[Long],
                              n_values: Long)

  /** Streaming twin of [[graft.ops.Profiler.benfordPpm]] — the
    * first-digit audit as it must run on a live ingest: per column a
    * NINE-LONG digit histogram held in `mapGroupsWithState` (state
    * bounded forever, independent of row volume), counts identical to
    * the batch op under ANY batch cut because digit counting is a
    * commutative monoid. Shares/deviations derive from the counts
    * downstream exactly as the batch op's ppm step does — state stays
    * minimal.
    */
  def benfordStream(rows: DataFrame, cols: Seq[String]): Dataset[BenfordOut] = {
    val spark = rows.sparkSession
    import spark.implicits._
    require(cols.nonEmpty, "benfordStream needs at least one column")
    val pairs = cols.map(c =>
      struct(lit(c).as("c"), abs(col(c).cast("long")).as("v")))
    rows.select(explode(array(pairs: _*)).as("p"))
      .select(col("p.c"), col("p.v"))
      .filter(col("v") > 0)
      .select(col("c"),
        substring(col("v").cast("string"), 1, 1).cast("int").as("d"))
      .as[(String, Int)]
      .groupByKey(_._1)
      .mapGroupsWithState[Seq[Long], BenfordOut](GroupStateTimeout.NoTimeout) {
        (c: String, it: Iterator[(String, Int)], state: GroupState[Seq[Long]]) =>
          val a = state.getOption.getOrElse(Seq.fill(9)(0L)).toArray
          it.foreach { case (_, d) => a(d - 1) += 1 }
          state.update(a.toSeq)
          BenfordOut(c, a.toSeq, a.sum)
      }
  }

  final case class CalibOut(bin: Long, n: Long, mean_score_ppm: Long,
                            pos_rate_ppm: Long, gap_ppm: Long)

  /** Streaming twin of [[graft.ops.EvalMetrics.calibrationBins]] — the
    * reliability diagram maintained live over a scored ingest: per bin
    * THREE longs of `mapGroupsWithState` state (count, score sum,
    * positive sum — bounded forever), the ppm ratios derived per emit
    * exactly as the batch op derives them. Counting is a commutative
    * monoid, so any batch cut yields the batch result.
    */
  def calibrationStream(rows: DataFrame, scoreCol: String, labelCol: String,
                        bins: Int): Dataset[CalibOut] = {
    val spark = rows.sparkSession
    import spark.implicits._
    require(bins >= 1, s"non-positive bin count: $bins")
    rows.select(col(scoreCol).cast("long").as("s"),
        (col(labelCol).cast("long") =!= 0L).cast("long").as("l"))
      .select(least(lit(bins - 1L), expr(
        s"""CASE WHEN s >= 0 THEN (s * $bins) div 1000000
           |ELSE -(((-s) * $bins + 999999) div 1000000) END""".stripMargin))
        .as("bin"), col("s"), col("l"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[(Long, Long, Long), CalibOut](
        GroupStateTimeout.NoTimeout) {
        (bin: Long, it: Iterator[(Long, Long, Long)],
         state: GroupState[(Long, Long, Long)]) =>
          var (n, ss, sl) = state.getOption.getOrElse((0L, 0L, 0L))
          it.foreach { case (_, s, l) => n += 1; ss += s; sl += l }
          state.update((n, ss, sl))
          val mean = Math.floorDiv(ss, n) // flooring, matches batch op
          val rate = sl * 1000000L / n    // sl >= 0 by construction
          CalibOut(bin, n, mean, rate, rate - mean)
      }
  }

  // ---- custom state: sessionization (flatMapGroupsWithState) -----------

  final case class Event(user_id: Long, ts: Timestamp, event_type: String, value: Double)
  final case class SessionState(start: Long, lastSeen: Long, nEvents: Long, total: Double)
  final case class SessionOut(user_id: Long, start: Timestamp, end: Timestamp,
                              n_events: Long, total: Double)

  /** Session windows with an inactivity gap, as explicit keyed state —
    * the `KeyValueGroupedDataset.flatMapGroupsWithState` pattern for
    * semantics Spark's built-in windows can't express. EVENT-time
    * timeouts (not processing-time): a session closes either in-line
    * when a later event exceeds the gap, or when the WATERMARK passes
    * lastSeen+gap — deterministic under replay and in tests, and no
    * wall-clock-driven empty micro-batches. State per key is O(1)
    * (aggregates only, no event buffer).
    */
  def sessionize(events: Dataset[Event], gapMs: Long = 30 * 60 * 1000L,
                 watermarkDelay: String = "0 seconds"): Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(userId, new Timestamp(s.start),
              new Timestamp(s.lastSeen), s.nEvents, s.total))
          } else {
            val sorted = rows.toSeq.sortBy(_.ts.getTime)
            var closed = List.empty[SessionOut]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.lastSeen <= gapMs =>
                  cur = Some(s.copy(lastSeen = t, nEvents = s.nEvents + 1,
                    total = s.total + e.value))
                case Some(s) =>
                  closed ::= SessionOut(userId, new Timestamp(s.start),
                    new Timestamp(s.lastSeen), s.nEvents, s.total)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.lastSeen + gapMs)
            }
            closed.reverseIterator
          }
      }
  }

  // ---- custom state: Markov transitions (flatMapGroupsWithState) -------

  final case class TransEvent(user_id: Long, ts: Timestamp,
                              event_type: String, event_id: Long)
  final case class LastEvent(ts: Long, tie: Long, typ: String)
  final case class TransOut(from_type: String, to_type: String)

  /** Streaming twin of `Behavior.transitionMatrixPpm`'s transition
    * extraction: per-user LAST-EVENT state (one small case class per
    * key, O(1) — no event buffer), each trigger emitting the (from, to)
    * pairs its new events introduce, INCLUDING the cross-batch pair
    * connecting the stored last event to the batch's first. Within a
    * batch events sort by the same total (ts, event_id) order as the
    * batch window, so two sequential batches emit exactly the pairs of
    * the combined batch whenever batches arrive in per-user ts order —
    * the append contract every twin in this file assumes (spec-pinned).
    * Counts → ppm normalization is a plain aggregation over the emitted
    * pairs, streaming-safe as-is.
    */
  def transitionsStream(events: Dataset[TransEvent]): Dataset[TransOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[LastEvent, TransOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, rows: Iterator[TransEvent], state: GroupState[LastEvent]) =>
          val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          val types = state.getOption.map(_.typ).toSeq ++ sorted.map(_.event_type)
          sorted.lastOption.foreach(e =>
            state.update(LastEvent(e.ts.getTime, e.event_id, e.event_type)))
          types.sliding(2).collect {
            case Seq(f, t) => TransOut(f, t)
          }.toList.iterator
      }
  }
}
