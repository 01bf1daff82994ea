package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{AsOfJoin, Behavior, Multimodal, Quality, RangeJoin, Relational, SkewJoin, VideoContainers}

import Shared._

/** Pipeline plumbing: relational extensions (as-of, range and salted
  * joins, SCD2, CDC, pivot, rollup, sessionization), event-stream
  * analytics (funnels, cohorts, attribution, trends), the declarative
  * quality audit, multimodal decode paths, and the end-to-end
  * PipelineETL run. */
private[registry] object PipelineQueries {

  val specs: Seq[QuerySpec] = Seq(
    // Multimodal plumbing: binary payload + per-partition batch decode
    // (text/plain codec — deterministic code-point fold, oracle-checkable).
    QuerySpec("q32_multimodal_meta", ((s, d) =>
      Multimodal.extractFeatures(
        Multimodal.asMediaTable(docsFanned(s, d), "doc_id", "text"))
        .toDF().orderBy(col("doc_id"))),
      s"""SELECT doc_id,
         |  CAST(strlen(text) AS BIGINT) AS byte_len,
         |  CAST(strlen(text)//100 + 1 AS BIGINT) AS n_frames,
         |  ${dh("text")} AS checksum
         |FROM documents ORDER BY doc_id""".stripMargin),

    // Real binary codec end-to-end: synthetic PNGs (dims are pure
    // functions of doc_id) encoded AND header-decoded with JDK ImageIO;
    // the oracle recomputes the decoded metadata arithmetically, so any
    // codec-path breakage (wrong dims, wrong format, corrupt payload)
    // hash-mismatches.
    QuerySpec("q60_image_meta", ((s, d) =>
      Multimodal.imageMeta(
        Multimodal.syntheticImages(docsFanned(s, d), "doc_id"))
        .toDF().orderBy(col("doc_id"))),
      """SELECT doc_id,
        |  CAST(doc_id % 16 + 1 AS INTEGER) AS width,
        |  CAST(doc_id % 7 + 1 AS INTEGER) AS height,
        |  'png' AS fmt
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Multimodal RESIZE: real ImageIO decode → deterministic
    // nearest-neighbor 8×8 thumbnail → ARGB raster checksum. The
    // oracle recomputes the resized raster from the synthetic gradient
    // arithmetic alone, so any codec or scaling defect hash-mismatches.
    QuerySpec("q71_image_resize", ((s, d) =>
      Multimodal.resizedChecksums(
          Multimodal.syntheticImages(docsFanned(s, d), "doc_id"), 8, 8)
        .toDF().select(col("doc_id"), col("checksum"))
        .orderBy(col("doc_id"))),
      // Mirrors Multimodal.resizedChecksums (8×8 nearest-neighbor): the
      // resized raster recomputed from the gradient arithmetic — source
      // pixel (x·w DIV 8, y·h DIV 8), ARGB fold in row-major order.
      """SELECT doc_id,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(0, 64), i ->
        |    4278190080
        |    + (((doc_id + ((i%8)*(doc_id%16+1)//8)*31 + ((i//8)*(doc_id%7+1)//8)*17) % 256) << 16)
        |    + ((((doc_id >> 3) + (i%8)*(doc_id%16+1)//8) % 256) << 8)
        |    + ((doc_id + (i//8)*(doc_id%7+1)//8) % 256)
        |  )), (a, x) -> (a*31 + x) % 1000000007) AS checksum
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Multimodal FRAME-SAMPLE: every 3rd 100-code-point frame per
    // payload (the keyframe access pattern; text payloads stand in for
    // the codec — the batching/indexing/sampling plumbing is the real
    // part).
    QuerySpec("q72_frame_sample", ((s, d) =>
      Multimodal.frameSample(
          Multimodal.asMediaTable(docsFanned(s, d), "doc_id", "text"), 3)
        .toDF().orderBy(col("doc_id"), col("frame_idx"))),
      // Mirrors Multimodal.frameSample (every 3rd 100-code-point frame):
      // correlated range over ceil(len/100), code-point substring, the
      // engine's polynomial fold per frame.
      s"""WITH f AS (SELECT doc_id, i AS frame_idx,
         |    substring(text, CAST(i*100+1 AS INT), 100) AS fr
         |  FROM documents, unnest(range(0, CAST((length(text)+99)//100 AS BIGINT))) t(i)
         |  WHERE i % 3 = 0)
         |SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx, ${dh("fr")} AS frame_hash
         |FROM f ORDER BY doc_id, frame_idx""".stripMargin),

    // Multimodal AUDIO: real javax.sound RIFF/WAVE parse of synthetic
    // PCM16 payloads — format, frame count, and the unsigned-16 sample
    // fold, all recomputed arithmetically by the oracle.
    QuerySpec("q73_audio_meta", ((s, d) =>
      Multimodal.audioMeta(
          Multimodal.syntheticAudio(docsFanned(s, d), "doc_id"))
        .toDF().orderBy(col("doc_id"))),
      // Mirrors Multimodal.audioMeta: PCM16LE mono at 8 kHz, n_samples =
      // doc_id%50+10, u16 sample (doc_id·31 + i·7) mod 65536, polynomial
      // fold.
      """SELECT doc_id,
        |  CAST(8000 AS INTEGER) AS sample_rate, CAST(1 AS INTEGER) AS n_channels,
        |  CAST(doc_id % 50 + 10 AS BIGINT) AS n_samples,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
        |    range(0, doc_id % 50 + 10), i -> (doc_id*31 + i*7) % 65536)),
        |    (a,x) -> (a*31+x) % 1000000007) AS checksum
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Conversion-lag percentiles per first-touch channel: the
    // time-to-convert distribution attribution credit hides.
    QuerySpec("q200_conversion_lag", ((s, d) =>
      Behavior.conversionLag(Tables.events(s, d), "user_id", "ts",
          "event_id", "event_type", conversionType = "purchase",
          lookbackSec = 7200L, pcts = Seq(50, 90))
        .orderBy(col("event_type"), col("pct"))),
      // Conversion lag: q197's pairing, first touch by ROW_NUMBER, the
      // q56 rank formula for the percentiles.
      """WITH b AS (SELECT user_id AS u, CAST(floor(epoch(ts)) AS BIGINT) AS sec,
        |    event_id AS tie, event_type AS t FROM events),
        |c AS (SELECT u, sec AS cs, tie AS ct FROM b WHERE t = 'purchase'),
        |tc AS (SELECT u, sec AS tsx, tie AS tt, t FROM b WHERE t <> 'purchase'),
        |p AS (SELECT c.u, c.cs, c.ct, tc.tsx, tc.tt, tc.t
        |  FROM c JOIN tc ON tc.u = c.u
        |  WHERE tc.tsx >= c.cs - 7200
        |    AND (tc.tsx < c.cs OR (tc.tsx = c.cs AND tc.tt < c.ct))),
        |f AS (SELECT t, cs - tsx AS value FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY u, cs, ct
        |    ORDER BY tsx ASC, tt ASC) AS rn FROM p) WHERE rn = 1),
        |r AS (SELECT t AS event_type, value,
        |    ROW_NUMBER() OVER (PARTITION BY t ORDER BY value) AS rnk,
        |    COUNT(*) OVER (PARTITION BY t) AS n FROM f)
        |SELECT event_type, CAST(pct AS BIGINT) AS pct, value
        |FROM r, (SELECT unnest([50, 90]) AS pct)
        |WHERE rnk = (n * pct + 99) // 100
        |ORDER BY event_type, pct""".stripMargin),

    // Attribution: first/last/linear credit of purchase value to the
    // touches in a 2 h lookback — credit always sums to the total.
    QuerySpec("q197_attribution", ((s, d) =>
      Behavior.attribution(Tables.events(s, d), "user_id", "ts",
          "event_id", "event_type",
          expr("greatest(floor(value * 1000), 0)"),
          conversionType = "purchase", lookbackSec = 7200L)
        .orderBy(col("event_type"))),
      // Attribution: user-key pair join, ROW_NUMBER first/last, v//n
      // linear with the remainder on the last touch.
      """WITH b AS (SELECT user_id AS u, CAST(floor(epoch(ts)) AS BIGINT) AS sec,
        |    event_id AS tie, event_type AS t,
        |    greatest(CAST(floor(value * 1000) AS BIGINT), 0) AS v FROM events),
        |c AS (SELECT u, sec AS cs, tie AS ct, v FROM b WHERE t = 'purchase'),
        |tc AS (SELECT u, sec AS tsx, tie AS tt, t FROM b WHERE t <> 'purchase'),
        |p AS (SELECT c.u, c.cs, c.ct, c.v, tc.tsx, tc.tt, tc.t,
        |    (tc.tsx IS NOT NULL AND tc.tsx >= c.cs - 7200
        |      AND (tc.tsx < c.cs OR (tc.tsx = c.cs AND tc.tt < c.ct))) AS iw
        |  FROM c LEFT JOIN tc ON tc.u = c.u),
        |pc AS (SELECT u, cs, ct, v,
        |    CAST(COUNT(CASE WHEN iw THEN 1 END) AS BIGINT) AS n
        |  FROM p GROUP BY 1, 2, 3, 4),
        |fl AS (SELECT u, cs, ct, t AS ft FROM (
        |  SELECT u, cs, ct, t, ROW_NUMBER() OVER (PARTITION BY u, cs, ct
        |    ORDER BY tsx ASC, tt ASC) AS rn FROM p WHERE iw) WHERE rn = 1),
        |ll AS (SELECT u, cs, ct, t AS lt FROM (
        |  SELECT u, cs, ct, t, ROW_NUMBER() OVER (PARTITION BY u, cs, ct
        |    ORDER BY tsx DESC, tt DESC) AS rn FROM p WHERE iw) WHERE rn = 1),
        |fc AS (SELECT fl.ft AS event_type, CAST(SUM(pc.v) AS BIGINT) AS first_touch_q
        |  FROM pc JOIN fl USING (u, cs, ct) GROUP BY 1),
        |lc AS (SELECT ll.lt AS event_type, CAST(COUNT(*) AS BIGINT) AS n_conversions,
        |    CAST(SUM(pc.v) AS BIGINT) AS last_touch_q,
        |    CAST(SUM(pc.v - (pc.v // pc.n) * pc.n) AS BIGINT) AS rem
        |  FROM pc JOIN ll USING (u, cs, ct) WHERE pc.n > 0 GROUP BY 1),
        |ln AS (SELECT p.t AS event_type, CAST(SUM(pc.v // pc.n) AS BIGINT) AS lin
        |  FROM p JOIN pc USING (u, cs, ct) WHERE p.iw GROUP BY 1),
        |f AS (SELECT event_type,
        |    COALESCE(lc.n_conversions, 0) AS n_conversions,
        |    COALESCE(fc.first_touch_q, 0) AS first_touch_q,
        |    COALESCE(lc.last_touch_q, 0) AS last_touch_q,
        |    COALESCE(ln.lin, 0) + COALESCE(lc.rem, 0) AS linear_q
        |  FROM fc FULL JOIN lc USING (event_type) FULL JOIN ln USING (event_type)),
        |un AS (SELECT '(unattributed)' AS event_type,
        |    CAST(COUNT(*) AS BIGINT) AS n_conversions,
        |    CAST(COALESCE(SUM(v), 0) AS BIGINT) AS tot FROM pc WHERE n = 0)
        |SELECT * FROM f
        |UNION ALL SELECT event_type, n_conversions, tot, tot, tot FROM un
        |WHERE n_conversions > 0
        |ORDER BY event_type""".stripMargin),

    // Rate spikes: 6 h buckets vs each type's own uniform Poisson
    // baseline at 3.0 sigma, square-root-free.
    QuerySpec("q198_rate_spikes", ((s, d) =>
      Behavior.rateSpikes(Tables.events(s, d), "event_type", "ts",
          bucketSec = 21600L, kTenths = 30L)
        .orderBy(col("event_type"), col("bucket"))),
      // Rate spikes: per-type uniform baseline over its own bucket span,
      // cross-multiplied Poisson bound in HUGEINT.
      """WITH c AS (SELECT event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 21600 AS bucket,
        |    CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2),
        |bl AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS tot,
        |    CAST(MAX(bucket) - MIN(bucket) + 1 AS BIGINT) AS nb FROM c GROUP BY 1)
        |SELECT c.event_type, c.bucket, c.n,
        |  CAST((bl.tot * 1000) // bl.nb AS BIGINT) AS expected_milli,
        |  CAST(CASE WHEN c.n * bl.nb > bl.tot AND
        |      (CAST(c.n AS HUGEINT) * bl.nb - bl.tot)
        |        * (CAST(c.n AS HUGEINT) * bl.nb - bl.tot) * 100
        |        > CAST(30 AS HUGEINT) * 30 * bl.tot * bl.nb
        |    THEN 1 ELSE 0 END AS BIGINT) AS spike
        |FROM c JOIN bl USING (event_type) ORDER BY event_type, bucket""".stripMargin),

    // Grade correlation (scale-safe Spearman, B=1000): does event value
    // drift with time, per event type — rank moments stay in exact
    // integer range at any corpus size.
    QuerySpec("q175_spearman_grade", ((s, d) =>
      Behavior.spearmanGradePpm(Tables.events(s, d), "event_type",
          expr("floor(unix_timestamp(ts))"), expr("floor(value * 1000)"))
        .orderBy(col("event_type"))),
      // Grade correlation: q56-compacted doubled ranks → B=1000 grades,
      // Pearson moments in HUGEINT, the same two-step floor division.
      """WITH b AS (SELECT event_type AS g, CAST(floor(epoch(ts)) AS BIGINT) AS x,
        |    CAST(floor(value * 1000) AS BIGINT) AS y FROM events),
        |cx AS (SELECT g, x, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1, 2),
        |gx AS (SELECT g, x, (1000 * (2 * SUM(c) OVER (PARTITION BY g ORDER BY x) - c))
        |      // (2 * SUM(c) OVER (PARTITION BY g)) AS gx FROM cx),
        |cy AS (SELECT g, y, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1, 2),
        |gy AS (SELECT g, y, (1000 * (2 * SUM(c) OVER (PARTITION BY g ORDER BY y) - c))
        |      // (2 * SUM(c) OVER (PARTITION BY g)) AS gy FROM cy),
        |j AS (SELECT b.g, gx.gx, gy.gy FROM b
        |  JOIN gx ON gx.g = b.g AND gx.x = b.x
        |  JOIN gy ON gy.g = b.g AND gy.y = b.y),
        |m AS (SELECT g, CAST(count(*) AS BIGINT) AS n, SUM(gx) AS sx, SUM(gy) AS sy,
        |    SUM(gx * gy) AS sxy, SUM(gx * gx) AS sxx, SUM(gy * gy) AS syy
        |  FROM j GROUP BY 1),
        |d AS (SELECT g, n,
        |    CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS num,
        |    CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS dx,
        |    CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS dy FROM m)
        |SELECT g AS event_type, n AS n_points,
        |  CAST(CASE WHEN dx = 0 OR dy = 0 THEN 0
        |       WHEN num >= 0 THEN (((num * num) // dx) * 1000000) // dy
        |       ELSE -((((num * num) // dx) * 1000000) // dy) END AS BIGINT)
        |    AS spearman_r2_signed_ppm
        |FROM d ORDER BY event_type""".stripMargin),

    // Purged temporal split: cutoff Jan 24 + per-user 1-day embargo —
    // the time-series leakage-safe split next to q151's cluster split.
    QuerySpec("q169_temporal_split", ((s, d) =>
      Behavior.temporalSplit(Tables.events(s, d), "user_id", "ts",
          "event_id", cutoffSec = 1706054400L, embargoSec = 86400L)
        .orderBy(col("id"))),
      // Temporal split: per-key first-test min, embargo window purges
      // late-train rows of that key only.
      """WITH b AS (SELECT user_id AS key, event_id AS id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events),
        |ft AS (SELECT key, MIN(sec) AS t0 FROM b WHERE sec >= 1706054400 GROUP BY 1)
        |SELECT b.key, b.id, b.sec,
        |  CASE WHEN b.sec >= 1706054400 THEN 'test'
        |       WHEN ft.t0 IS NOT NULL AND b.sec > ft.t0 - 86400 THEN 'purged'
        |       ELSE 'train' END AS split
        |FROM b LEFT JOIN ft USING (key) ORDER BY b.id""".stripMargin),

    // Signed R² of event value vs day per type — the metric-drift
    // detector: direction + strength, sqrt-free, integer-exact.
    QuerySpec("q162_corr_r2", ((s, d) =>
      Behavior.corrSignedR2Ppm(Tables.events(s, d), "event_type",
          datediff(to_date(col("ts")), lit("1970-01-01")),
          floor(col("value")))
        .orderBy(col("event_type"))),
      // Signed R²: one moment aggregate, num²·1e6 // (dx·dy) in HUGEINT
      // with the sign factored out front.
      """WITH p AS (SELECT event_type,
        |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS x,
        |    CAST(floor(value) AS BIGINT) AS y FROM events),
        |s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(x*y) AS BIGINT) AS sxy, CAST(SUM(x*x) AS BIGINT) AS sxx,
        |    CAST(SUM(y*y) AS BIGINT) AS syy FROM p GROUP BY 1),
        |g AS (SELECT event_type, n,
        |    n*sxy - sx*sy AS num, n*sxx - sx*sx AS dx, n*syy - sy*sy AS dy FROM s)
        |SELECT event_type, n AS n_points,
        |  CAST(CASE WHEN dx = 0 OR dy = 0 THEN 0
        |       ELSE CAST(sign(num) AS BIGINT) *
        |         ((CAST(num AS HUGEINT) * num * 1000000) // (CAST(dx AS HUGEINT) * dy))
        |       END AS BIGINT) AS r2_signed_ppm
        |FROM g ORDER BY event_type""".stripMargin),

    // Recency-decayed per-user activity on the 6h grid: one-bucket
    // half-life, truncating power-of-two halving — no float decay.
    QuerySpec("q140_decay_activity", ((s, d) =>
      Behavior.decayedActivity(Tables.events(s, d), "user_id", "ts",
          stepSec = 21600L)
        .orderBy(col("key"))),
      // Decay: (key, bucket) counts, one-row max, halving fold.
      """WITH c AS (SELECT user_id AS key, epoch_us(ts) // 21600000000 AS bucket,
        |    CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY 1, 2),
        |t AS (SELECT MAX(bucket) AS top FROM c)
        |SELECT key, CAST(SUM(cnt) AS BIGINT) AS n_events,
        |  CAST(count(*) AS BIGINT) AS n_buckets,
        |  CAST(SUM(CASE WHEN t.top - bucket >= 63 THEN 0
        |    ELSE cnt // (CAST(1 AS BIGINT) << CAST(t.top - bucket AS INT)) END)
        |    AS BIGINT) AS score
        |FROM c, t GROUP BY key ORDER BY key""".stripMargin),

    // Batch sessionization: the window-composition counterpart of the
    // streaming flatMapGroupsWithState sessionize — lag() flags session
    // starts, a running sum assigns session ids, then per-session aggs.
    QuerySpec("q34_sessionize_batch", ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val run = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .withColumn("__prev", lag(col("ts"), 1).over(byUser))
        .withColumn("__new",
          when(col("__prev").isNull ||
            unix_timestamp(col("ts")) - unix_timestamp(col("__prev")) > 1800, 1L)
            .otherwise(0L))
        .withColumn("session_id", sum(col("__new")).over(run))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast(graft.model.Schemas.money)).cast("double").as("total"),
          date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("start_ts"))
        .orderBy(col("user_id"), col("session_id"))
    }),
      """WITH flagged AS (
        | SELECT user_id, ts, event_id, value,
        |   CASE WHEN lag(ts) OVER w IS NULL
        |         OR date_diff('second', lag(ts) OVER w, ts) > 1800 THEN 1 ELSE 0 END AS new_sess
        | FROM events
        | WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        | SELECT user_id, ts, value,
        |   CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        | FROM flagged)
        |SELECT user_id, session_id, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total,
        |  strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS start_ts
        |FROM sess GROUP BY 1, 2 ORDER BY user_id, session_id""".stripMargin),

    // Backward as-of join: each click ↔ the latest error by the same
    // user at-or-before it (union + running-last window — one shuffle,
    // no inequality-join pair fan-out). No-match sentinel: -1.
    QuerySpec("q47_asof_join", ((s, d) => {
      val ev = Tables.events(s, d)
      AsOfJoin.lastAtOrBefore(
        ev.filter(col("event_type") === "click")
          .select(col("event_id"), col("user_id"), col("ts")), "user_id", "ts",
        ev.filter(col("event_type") === "error"), "user_id", "ts",
        "event_id", Seq("event_id", "value"))
        .select(col("event_id"), col("user_id"),
          coalesce(col("asof_event_id"), lit(-1L)).as("asof_event_id"),
          coalesce(col("asof_value"), lit(-1.0d)).as("asof_value"))
        .orderBy(col("event_id"))
    }),
      // Mirrors AsOfJoin.lastAtOrBefore (union-scan formulation, the q20
      // forward-fill idiom): right rows (src 0) sort before left rows at
      // equal timestamps so exactly-coincident errors are visible; ties
      // among right rows resolve to the greatest event_id (last under
      // ORDER BY ... tb ASC). Two independent last_value windows are
      // exact here because error rows never carry NULL payload columns
      // (the struct-snapshot guarantee is only observable under payload
      // nulls).
      """WITH u AS (
        |  SELECT user_id, ts, 1 AS src, CAST(NULL AS BIGINT) AS tb,
        |    event_id, CAST(NULL AS BIGINT) AS r_eid, CAST(NULL AS DOUBLE) AS r_val
        |  FROM events WHERE event_type = 'click'
        |  UNION ALL
        |  SELECT user_id, ts, 0 AS src, event_id AS tb,
        |    CAST(NULL AS BIGINT) AS event_id, event_id AS r_eid, value AS r_val
        |  FROM events WHERE event_type = 'error'),
        |w AS (SELECT user_id, src, event_id,
        |    last_value(r_eid IGNORE NULLS) OVER win AS l_eid,
        |    last_value(r_val IGNORE NULLS) OVER win AS l_val
        |  FROM u WINDOW win AS (PARTITION BY user_id ORDER BY ts ASC, src ASC, tb ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT event_id, user_id,
        |  coalesce(l_eid, CAST(-1 AS BIGINT)) AS asof_event_id,
        |  coalesce(l_val, CAST(-1.0 AS DOUBLE)) AS asof_value
        |FROM w WHERE src = 1 ORDER BY event_id""".stripMargin),

    // Binned range join: for every error event, count + sum the same
    // user's purchases inside the following 30 minutes — an equi-join
    // on (user, time-bin) with a residual range filter, never an
    // inequality-join nested loop.
    QuerySpec("q53_range_join", ((s, d) => {
      val ev = Tables.events(s, d)
      RangeJoin.countInWindow(
        ev.filter(col("event_type") === "error")
          .select(col("event_id"), col("user_id"), col("ts")),
        ev.filter(col("event_type") === "purchase"),
        "event_id", "user_id", "ts", "value", 1800L)
        .orderBy(col("event_id"))
    }),
      // Mirrors RangeJoin.countInWindow (errors ← purchases, 30 min):
      // second-truncated epoch comparison exactly as the engine's
      // unix_timestamp bins; DECIMAL-exact value sums.
      """WITH l AS (SELECT event_id, user_id, ts, CAST(floor(epoch(ts)) AS BIGINT) AS lsec
        |  FROM events WHERE event_type = 'error'),
        |r AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS rsec, value
        |  FROM events WHERE event_type = 'purchase'),
        |hits AS (SELECT l.event_id, count(*) AS n_in_window,
        |    CAST(SUM(CAST(r.value AS DECIMAL(18,6))) AS DOUBLE) AS sum_in_window
        |  FROM l JOIN r ON l.user_id = r.user_id
        |    AND r.rsec >= l.lsec AND r.rsec < l.lsec + 1800
        |  GROUP BY 1)
        |SELECT l.event_id, l.user_id, l.ts,
        |  coalesce(hits.n_in_window, 0) AS n_in_window,
        |  coalesce(hits.sum_in_window, 0.0) AS sum_in_window
        |FROM l LEFT JOIN hits USING (event_id)
        |ORDER BY l.event_id""".stripMargin),

    // Trailing 1-hour per-user event window (range frame, not rows):
    // the feature-engineering primitive for activity features. Counts
    // and DECIMAL-exact sums; frame is value-determined, so the result
    // is layout-independent.
    QuerySpec("q55_rolling_window", ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("__secs"))
        .rangeBetween(-3600L, 0L)
      Tables.events(s, d)
        .withColumn("__secs", unix_timestamp(col("ts")))
        .select(col("event_id"), col("user_id"),
          count(lit(1)).over(w).as("n_1h"),
          sum(col("value").cast(graft.model.Schemas.money)).over(w)
            .cast("double").as("sum_1h"))
        .orderBy(col("event_id"))
    }),
      // Mirrors the q55 range frame: per-user trailing 3600 s window over
      // second-truncated epochs, count + DECIMAL-exact sum.
      """WITH s AS (SELECT event_id, user_id, value,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS secs FROM events)
        |SELECT event_id, user_id,
        |  COUNT(*) OVER w AS n_1h,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sum_1h
        |FROM s WINDOW w AS (PARTITION BY user_id ORDER BY secs
        |  RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin),

    // SCD2 validity intervals from the event stream: each row opens at
    // its ts and closes at the next row's (per user; open tail = null).
    QuerySpec("q57_scd2_intervals", ((s, d) =>
      graft.ops.Relational.scd2Intervals(
          Tables.events(s, d).select(col("event_id"), col("user_id"),
            col("event_type"), col("ts")),
          Seq("user_id"), col("ts"), col("event_id"))
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("valid_from"), col("valid_to"))
        .orderBy(col("event_id"))),
      // Mirrors Relational.scd2Intervals over events: half-open validity
      // intervals per user, (ts, event_id) order, open tail = NULL.
      """SELECT event_id, user_id, event_type, ts AS valid_from,
        |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS valid_to
        |FROM events ORDER BY event_id""".stripMargin),

    // Snapshot CDC diff: last month's corpus vs this month's (every 7th
    // doc dropped, every 5th survivor revised, every 11th re-ingested
    // under a new id) → the insert/delete/update changelog. One
    // full-outer join on the key, output |changes| not |table|.
    QuerySpec("q86_snapshot_diff", ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val news = docs.filter(col("doc_id") % 7 =!= 0)
        .withColumn("text", when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" rev2"))).otherwise(col("text")))
        .unionByName(docs.filter(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 30000).as("doc_id"), col("text")))
      Relational.snapshotDiff(docs, news, Seq("doc_id"), Seq("text"))
        .orderBy(col("doc_id"))
    }),
      // Mirrors Relational.snapshotDiff over the constructed old/new
      // snapshots: full-outer classification, unchanged keys dropped,
      // IS DISTINCT FROM = Spark's null-safe <=> negated.
      """WITH olds AS (SELECT doc_id, text FROM documents),
        |news AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN text || ' rev2' ELSE text END AS text
        |  FROM documents WHERE doc_id % 7 <> 0
        |  UNION ALL
        |  SELECT doc_id + 30000 AS doc_id, text FROM documents WHERE doc_id % 11 = 0),
        |j AS (SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        |    o.text AS old_text, n.text AS new_text,
        |    o.doc_id IS NOT NULL AS inold, n.doc_id IS NOT NULL AS innew
        |  FROM olds o FULL OUTER JOIN news n ON o.doc_id = n.doc_id)
        |SELECT doc_id,
        |  CASE WHEN NOT inold THEN 'insert'
        |       WHEN NOT innew THEN 'delete'
        |       ELSE 'update' END AS change_type,
        |  old_text, new_text
        |FROM j
        |WHERE NOT inold OR NOT innew OR old_text IS DISTINCT FROM new_text
        |ORDER BY doc_id""".stripMargin),

    // Semi-structured extraction: JSON props field pulled inside the
    // scan projection (no UDF), then per-type stats — the
    // event-payload analytics path.
    QuerySpec("q96_json_extract", ((s, d) =>
      Tables.events(s, d)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(count(col("k")).as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .orderBy(col("event_type"))),
      // JSON props field extracted in the scan projection, per-type stats.
      """WITH t AS (SELECT event_type,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events)
        |SELECT event_type, count(k) AS n, CAST(SUM(k) AS BIGINT) AS sum_k,
        |  min(k) AS min_k, max(k) AS max_k
        |FROM t GROUP BY event_type ORDER BY event_type""".stripMargin),

    // signup → click (≤6h) → purchase (≤6h) first-touch funnel: each
    // stage a scan-pushed type filter + user-keyed join, no windows.
    QuerySpec("q102_funnel", ((s, d) =>
      Behavior.funnel(Tables.events(s, d), "user_id", "event_type", "ts",
        Seq("signup", "click", "purchase"), windowHours = 6)
        .orderBy(col("step"))),
      // First-touch funnel, 6h windows, each stage anchored at the
      // user's earliest qualifying event of the previous stage.
      """WITH a AS (SELECT user_id, min(ts) AS t FROM events
        |  WHERE event_type = 'signup' GROUP BY 1),
        |b AS (SELECT e.user_id, min(e.ts) AS t FROM events e
        |  JOIN a ON e.user_id = a.user_id
        |  WHERE e.event_type = 'click' AND e.ts > a.t
        |    AND e.ts <= a.t + INTERVAL 6 HOUR GROUP BY 1),
        |c AS (SELECT e.user_id, min(e.ts) AS t FROM events e
        |  JOIN b ON e.user_id = b.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > b.t
        |    AND e.ts <= b.t + INTERVAL 6 HOUR GROUP BY 1)
        |SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS step, 'signup' AS event_type,
        |    (SELECT count(*) FROM a) AS n_users
        |  UNION ALL SELECT 2, 'click', (SELECT count(*) FROM b)
        |  UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM c))
        |ORDER BY step""".stripMargin),

    // Day-grain purchase retention triangle: cohort = first purchase
    // day, cells = distinct active users per (cohort, offset).
    QuerySpec("q103_cohort_retention", ((s, d) =>
      Behavior.cohortRetention(Tables.events(s, d), "user_id", "ts",
          "event_type", "purchase")
        .orderBy(col("cohort_day"), col("day_offset"))),
      // Purchase-day cohort retention: epoch-day integers (UTC), offset
      // = active day − first day, distinct users per cell.
      """WITH p AS (SELECT user_id,
        |  CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d
        |  FROM events WHERE event_type = 'purchase'),
        |f AS (SELECT user_id, min(d) AS cohort_day FROM p GROUP BY 1),
        |act AS (SELECT DISTINCT p.user_id, f.cohort_day,
        |  p.d - f.cohort_day AS day_offset
        |  FROM p JOIN f ON p.user_id = f.user_id)
        |SELECT cohort_day, day_offset, CAST(count(*) AS BIGINT) AS n_users
        |FROM act GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Integer-exact OLS slope (ppm) of daily event counts per type —
    // the volume-trend monitor; two map-side-combinable aggregates.
    QuerySpec("q104_trend_slope", ((s, d) =>
      Behavior.trendSlopePpm(Tables.events(s, d), "event_type",
          datediff(to_date(col("ts")), lit("1970-01-01")))
        .orderBy(col("event_type"))),
      // Per-type OLS slope of daily counts in ppm; sign-split truncating
      // division so // and Spark's DIV agree on negative slopes.
      """WITH dc AS (SELECT event_type,
        |  CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS x,
        |  CAST(count(*) AS BIGINT) AS y FROM events GROUP BY 1, 2),
        |s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |  CAST(SUM(x*y) AS BIGINT) AS sxy, CAST(SUM(x*x) AS BIGINT) AS sxx
        |  FROM dc GROUP BY 1),
        |sl AS (SELECT event_type, n, n*sxy - sx*sy AS num,
        |  n*sxx - sx*sx AS den FROM s)
        |SELECT event_type, n AS n_points,
        |  CAST(CASE WHEN den = 0 THEN 0
        |    WHEN num >= 0 THEN (num * 1000000) // den
        |    ELSE -((-num * 1000000) // den) END AS BIGINT) AS slope_ppm
        |FROM sl ORDER BY event_type""".stripMargin),

    // Markov transition matrix of the event stream: one user-keyed
    // shuffle into the lag window, then tiny state-pair aggregates.
    QuerySpec("q109_markov_transitions", ((s, d) =>
      Behavior.transitionMatrixPpm(Tables.events(s, d), "user_id",
          "event_type", "ts", "event_id")
        .orderBy(col("from_type"), col("to_type"))),
      // Markov transitions: LAG under the same total (ts, event_id)
      // order, row-normalized floor-ppm probabilities.
      """WITH s AS (SELECT user_id, event_type AS to_type,
        |  LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS from_type
        |  FROM events),
        |t AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n_trans
        |  FROM s WHERE from_type IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT from_type, CAST(SUM(n_trans) AS BIGINT) AS tt FROM t GROUP BY 1)
        |SELECT from_type, to_type, n_trans, (n_trans * 1000000) // tt AS prob_ppm
        |FROM t JOIN tot USING (from_type)
        |ORDER BY from_type, to_type""".stripMargin),

    // Interval overlap join: signup vs purchase 2h activity windows
    // per user — binned equi-join candidates, positional pair dedup.
    QuerySpec("q111_interval_overlap", ((s, d) => {
      val ev = Tables.events(s, d)
      def iv(t: String) = ev.filter(col("event_type") === t)
        .select(col("event_id"), col("user_id"), col("ts").as("ts_start"),
          (col("ts") + expr("INTERVAL 2 HOURS")).as("ts_end"))
      RangeJoin.overlapJoin(iv("signup"), iv("purchase"), "event_id",
          "event_id", "user_id", "ts_start", "ts_end", binSec = 3600L)
        .orderBy(col("id_a"), col("id_b"))
    }),
      // Interval overlap: the oracle spells the join directly as the
      // inequality predicate (fine at oracle scale); second-truncated
      // epochs match the engine's unix_timestamp bins.
      """WITH a AS (SELECT event_id AS id_a, user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS s,
        |    CAST(floor(epoch(ts)) AS BIGINT) + 7200 AS e
        |  FROM events WHERE event_type = 'signup'),
        |b AS (SELECT event_id AS id_b, user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS s,
        |    CAST(floor(epoch(ts)) AS BIGINT) + 7200 AS e
        |  FROM events WHERE event_type = 'purchase')
        |SELECT id_a, id_b, user_id,
        |  CAST(least(a.e, b.e) - greatest(a.s, b.s) AS BIGINT) AS overlap_sec
        |FROM a JOIN b USING (user_id)
        |WHERE a.s < b.e AND b.s < a.e
        |ORDER BY id_a, id_b""".stripMargin),

    // Pivot long→wide — the inverse of the reference's signature
    // unpivot (q09): EXPLICIT value list, so the plan is one aggregate
    // with no driver-side distinct scan of the pivot column.
    QuerySpec("q112_pivot_attrs", ((s, d) =>
      Tables.part(s, d)
        .select(col("p_partkey"), col("p_size").cast("double").as("size"),
          col("p_retailprice").as("retailprice"))
        .unpivot(Array(col("p_partkey")), Array(col("size"), col("retailprice")),
          "attr", "val")
        .groupBy(col("p_partkey"))
        .pivot("attr", Seq("size", "retailprice"))
        .agg(max(col("val")))
        .orderBy(col("p_partkey"))),
      // Pivot: the q09 long form folded back wide with MAX-per-attr
      // (each (key, attr) holds exactly one value).
      """WITH long AS (
        | SELECT p_partkey, 'size' AS attr, CAST(p_size AS DOUBLE) AS val FROM part
        | UNION ALL
        | SELECT p_partkey, 'retailprice', p_retailprice FROM part)
        |SELECT p_partkey,
        |  MAX(CASE WHEN attr = 'size' THEN val END) AS size,
        |  MAX(CASE WHEN attr = 'retailprice' THEN val END) AS retailprice
        |FROM long GROUP BY 1 ORDER BY 1""".stripMargin),

    // ROLLUP subtotal grid over the q02 revenue join — the Expand-based
    // multi-grain aggregate; grouping_id disambiguates subtotal rows,
    // names coalesce to 'ALL' so no NULL ever reaches the compare.
    QuerySpec("q113_rollup_revenue", ((s, d) => {
      val li = Tables.lineitem(s, d); val o = Tables.orders(s, d)
      val c = Tables.customer(s, d); val n = Tables.nation(s, d)
      val r = Tables.region(s, d)
      val m = graft.model.Schemas.money
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(sum(col("l_extendedprice").cast(m) *
            (lit(1).cast(m) - col("l_discount").cast(m)))
          .cast("double").as("revenue"),
          grouping_id().as("gid"))
        .select(coalesce(col("r_name"), lit("ALL")).as("r_name"),
          coalesce(col("n_name"), lit("ALL")).as("n_name"),
          col("revenue"), col("gid"))
        .orderBy(col("gid"), col("r_name"), col("n_name"))
    }),
      // ROLLUP: GROUPING() bitmask matches Spark's grouping_id (first
      // argument = most significant bit).
      """SELECT COALESCE(r_name, 'ALL') AS r_name,
        |  COALESCE(n_name, 'ALL') AS n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  CAST(GROUPING(r_name, n_name) AS BIGINT) AS gid
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY gid, r_name, n_name""".stripMargin),

    // Association rules on order baskets (items = partkey mod 50):
    // support / confidence / lift in exact ppm.
    QuerySpec("q129_frequent_pairs", ((s, d) =>
      Behavior.frequentPairsPpm(
          Tables.lineitem(s, d).select(col("l_orderkey"),
            pmod(col("l_partkey"), lit(50L)).as("item50")),
          "l_orderkey", "item50", minCount = 50L)
        .orderBy(col("item_a"), col("item_b"))),
      // Frequent pairs: presence-distinct baskets, basket-keyed pair
      // join, HUGEINT only in the lift numerator.
      """WITH items AS (SELECT DISTINCT l_orderkey AS basket, l_partkey % 50 AS item FROM lineitem),
        |nb AS (SELECT CAST(count(DISTINCT basket) AS BIGINT) AS n FROM items),
        |ic AS (SELECT item, CAST(count(*) AS BIGINT) AS n_i FROM items GROUP BY 1),
        |p AS (SELECT a.item AS item_a, b.item AS item_b, CAST(count(*) AS BIGINT) AS n_ab
        |  FROM items a JOIN items b ON a.basket = b.basket AND a.item < b.item
        |  GROUP BY 1, 2 HAVING count(*) >= 50)
        |SELECT item_a, item_b, n_ab,
        |  CAST((n_ab * 1000000) // nb.n AS BIGINT) AS support_ppm,
        |  CAST((n_ab * 1000000) // na.n_i AS BIGINT) AS conf_ppm,
        |  CAST((CAST(n_ab AS HUGEINT) * nb.n * 1000000) // (CAST(na.n_i AS HUGEINT) * nbi.n_i) AS BIGINT) AS lift_ppm
        |FROM p JOIN ic na ON p.item_a = na.item
        |  JOIN ic nbi ON p.item_b = nbi.item, nb
        |ORDER BY item_a, item_b""".stripMargin),

    // Per-user event series regularized onto a 6-hour grid: latest
    // observation carried forward with a staleness age.
    QuerySpec("q119_resample_ffill", ((s, d) =>
      Behavior.resampleForwardFill(Tables.events(s, d),
          "user_id", "ts", "event_id", "value", stepSec = 21600L)
        .select(col("key").as("user_id"), col("bucket"), col("v"), col("stale"))
        .orderBy(col("user_id"), col("bucket"))),
      // Resample: last-in-bucket by the (ts, event_id) lexicographic key,
      // dense per-user grid, running last-value forward fill.
      """WITH obs AS (
        |  SELECT user_id, bucket, m.v AS v FROM (
        |    SELECT user_id, epoch_us(ts)//21600000000 AS bucket,
        |      max({'u': epoch_us(ts), 't': event_id, 'v': value}) AS m
        |    FROM events GROUP BY 1, 2)),
        |span AS (SELECT user_id, MIN(bucket) AS lo, MAX(bucket) AS hi
        |  FROM obs GROUP BY 1),
        |grid AS (SELECT user_id, CAST(i AS BIGINT) AS bucket
        |  FROM span, unnest(range(lo, hi+1)) t(i)),
        |j AS (SELECT g.user_id, g.bucket, o.v, o.bucket AS ob
        |  FROM grid g LEFT JOIN obs o ON g.user_id = o.user_id AND g.bucket = o.bucket)
        |SELECT user_id, bucket,
        |  last_value(v IGNORE NULLS) OVER win AS v,
        |  bucket - last_value(ob IGNORE NULLS) OVER win AS stale
        |FROM j
        |WINDOW win AS (PARTITION BY user_id ORDER BY bucket
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, bucket""".stripMargin),

    // Salted skew join (X15): the hot-key remedy proven OUTPUT-identical
    // to the plain equi-join — the oracle IS the plain join, so the
    // salt/replicate/drop plumbing cannot silently change semantics.
    QuerySpec("q202_salted_join", ((s, d) => {
      val facts = Tables.lineitem(s, d).select(
        col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_partkey").as("p_partkey"))
      val dims = Tables.part(s, d).select(col("p_partkey"), col("p_brand"))
      SkewJoin.saltedJoin(facts, dims, "p_partkey", salt = 8,
          saltSource = Seq(col("l_orderkey"), col("l_linenumber")))
        .select(col("l_orderkey"), col("l_linenumber"), col("p_partkey"),
          col("l_quantity"), col("p_brand"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("p_partkey"),
          col("l_quantity"), col("p_brand"))
    }),
      // Salted join: the oracle is the PLAIN equi-join — salting must be
      // output-invisible.
      """SELECT l.l_orderkey, l.l_linenumber, p.p_partkey, l.l_quantity,
        |  p.p_brand
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |ORDER BY l.l_orderkey, l.l_linenumber, p.p_partkey, l.l_quantity,
        |  p.p_brand""".stripMargin),

    // Declarative quality audit (X18): FK orphans, null keys and PK
    // duplicate groups as one violation-count frame — the engine-side
    // spelling of the reference's PostgreSQL constraints.
    QuerySpec("q203_quality_audit", ((s, d) => {
      val li = Tables.lineitem(s, d); val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      Quality.audit(Seq(
          "fk_lineitem_orders" ->
            li.select(col("l_orderkey").as("k")).distinct()
              .join(o.select(col("o_orderkey").as("k")), Seq("k"), "left_anti"),
          "fk_orders_customer" ->
            o.select(col("o_custkey").as("k")).distinct()
              .join(c.select(col("c_custkey").as("k")), Seq("k"), "left_anti"),
          "null_orderkey_lineitem" -> li.filter(col("l_orderkey").isNull),
          "pk_dup_lineitem" ->
            li.groupBy(col("l_orderkey"), col("l_partkey"), col("l_linenumber"))
              .agg(count(lit(1)).as("__n")).filter(col("__n") > 1)))
        .select(col("check").as("check_name"), col("violations"))
        .orderBy(col("check_name"))
    }),
      // Quality audit: each check as a scalar violation count, anti-join
      // spelling (never NOT IN — null keys must count as orphans, not
      // poison the predicate).
      """SELECT 'fk_lineitem_orders' AS check_name, CAST(count(*) AS BIGINT) AS violations
        |FROM (SELECT DISTINCT l_orderkey AS k FROM lineitem) l
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.k)
        |UNION ALL
        |SELECT 'fk_orders_customer', CAST(count(*) AS BIGINT)
        |FROM (SELECT DISTINCT o_custkey AS k FROM orders) o
        |WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.k)
        |UNION ALL
        |SELECT 'null_orderkey_lineitem', CAST(count(*) AS BIGINT)
        |FROM lineitem WHERE l_orderkey IS NULL
        |UNION ALL
        |SELECT 'pk_dup_lineitem', CAST(count(*) AS BIGINT) FROM (
        |  SELECT 1 FROM lineitem
        |  GROUP BY l_orderkey, l_partkey, l_linenumber HAVING count(*) > 1)
        |ORDER BY check_name""".stripMargin),

    // Real container parse end-to-end: synthetic MP4s (even ids) and
    // AVIs (odd ids) — dims/frames/duration pure functions of doc_id —
    // encoded AND parsed by the dependency-free box/chunk readers; the
    // oracle recomputes the parsed metadata arithmetically, so any
    // container-layer breakage (wrong header field, wrong fixed-point
    // shift, bad sample table) hash-mismatches.
    QuerySpec("q205_video_meta", ((s, d) =>
      VideoContainers.videoMeta(
          VideoContainers.syntheticVideos(docsFanned(s, d), "doc_id"))
        .toDF().orderBy(col("doc_id"))),
      // Mirrors VideoContainers.videoMeta over syntheticVideos: container
      // by id parity, dims/frames by modulus, duration = 40 ms x frames
      // (25 fps in both the AVI avih clock and the MP4 mvhd timescale).
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'mp4' ELSE 'avi' END AS container,
        |  CAST(doc_id % 16 + 1 AS INTEGER) AS width,
        |  CAST(doc_id % 9 + 1 AS INTEGER) AS height,
        |  CAST(doc_id % 12 + 1 AS BIGINT) AS n_frames,
        |  CAST((doc_id % 12 + 1) * 40 AS BIGINT) AS duration_ms
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Real container frame DEMUX: every 2nd frame per payload sliced
    // out of the container's own sample extents (AVI movi chunks, MP4
    // stsz/stco tables) and byte-folded; the oracle recomputes each
    // frame's deterministic bytes, so a single mis-sliced frame
    // boundary hash-mismatches.
    QuerySpec("q206_video_frames", ((s, d) =>
      Multimodal.frameSample(
          VideoContainers.syntheticVideos(docsFanned(s, d), "doc_id"), 2)
        .toDF().orderBy(col("doc_id"), col("frame_idx"))),
      // Mirrors Multimodal.frameSample over syntheticVideos (every 2nd
      // frame): frame i's byte j = (doc_id*31 + i*7 + j*13) mod 256 over
      // frameLen = doc_id%20+5, folded with the engine's polynomial hash.
      """SELECT doc_id, CAST(i AS BIGINT) AS frame_idx,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
        |    range(0, doc_id % 20 + 5), j -> (doc_id*31 + i*7 + j*13) % 256)),
        |    (a, x) -> (a*31 + x) % 1000000007) AS frame_hash
        |FROM documents, unnest(range(0, doc_id % 12 + 1)) t(i)
        |WHERE i % 2 = 0
        |ORDER BY doc_id, frame_idx""".stripMargin),

    // Perceptual dHash through the REAL codec path (PNG encode →
    // ImageIO decode → integer nearest-neighbor resize → BT.601 luma
    // gradient); the oracle recomputes the 64 bits arithmetically from
    // the synthetic gradient, so any codec/resize/luma defect flips
    // bits and hash-mismatches.
    QuerySpec("q215_image_dhash", ((s, d) =>
      Multimodal.imageDHash(
          Multimodal.syntheticImages(Tables.documents(s, d), "doc_id"))
        .toDF().orderBy(col("doc_id"))),
      // Mirrors Multimodal.imageDHash over syntheticImages: the 64
      // gradient-comparison bits recomputed arithmetically.
      s"""WITH z AS (SELECT doc_id, doc_id % 16 + 1 AS w, doc_id % 7 + 1 AS h FROM documents)
         |SELECT doc_id, CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
         |  $dhashExpr AS dhash
         |FROM z ORDER BY doc_id""".stripMargin),

    // The dedup action table off the perceptual hash: one row per
    // (dims, dhash) content class with the kept representative.
    QuerySpec("q216_dhash_dups", ((s, d) =>
      Multimodal.imageDHash(
          Multimodal.syntheticImages(Tables.documents(s, d), "doc_id"))
        .toDF().groupBy(col("width"), col("height"), col("dhash"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_doc"))
        .orderBy(col("width"), col("height"), col("dhash"))),
      // Mirrors the q216 dedup rollup of the same hash.
      s"""WITH z AS (SELECT doc_id, doc_id % 16 + 1 AS w, doc_id % 7 + 1 AS h FROM documents),
         |hh AS (SELECT doc_id, w, h, $dhashExpr AS dhash FROM z)
         |SELECT CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height, dhash,
         |  CAST(count(*) AS BIGINT) AS n_docs, CAST(min(doc_id) AS BIGINT) AS keep_doc
         |FROM hh GROUP BY 1, 2, 3 ORDER BY width, height, dhash""".stripMargin),

    // Audio clip/silence QA through the REAL javax.sound decode; the
    // oracle recomputes every sample magnitude arithmetically.
    QuerySpec("q217_audio_quality", ((s, d) =>
      Multimodal.audioQuality(
          Multimodal.syntheticAudio(Tables.documents(s, d), "doc_id"))
        .toDF().orderBy(col("doc_id"))),
      // Mirrors Multimodal.audioQuality over syntheticAudio: sample i of
      // doc is u16 (doc_id·31 + i·7) mod 65536, magnitude via the
      // two's-complement fold, defaults clip=32700 / silence=100.
      """WITH s AS (SELECT doc_id, (doc_id*31 + i*7) % 65536 AS u
        |  FROM documents, unnest(range(0, doc_id % 50 + 10)) t(i)),
        |a AS (SELECT doc_id, CASE WHEN u < 32768 THEN u ELSE 65536 - u END AS amp FROM s)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_samples,
        |  CAST(max(amp) AS BIGINT) AS peak,
        |  CAST(sum(amp) // count(*) AS BIGINT) AS mean_amp,
        |  CAST(count(*) FILTER (WHERE amp >= 32700) AS BIGINT) AS n_clipped,
        |  CAST(count(*) FILTER (WHERE amp <= 100) AS BIGINT) AS n_silent
        |FROM a GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // Energy-shape fingerprint of the same decoded PCM — the audio
    // dedup key (bit w: window w+1 louder than window w).
    QuerySpec("q218_audio_ehash", ((s, d) =>
      Multimodal.audioEnergyHash(
          Multimodal.syntheticAudio(Tables.documents(s, d), "doc_id"))
        .toDF().orderBy(col("doc_id"))),
      // Mirrors Multimodal.audioEnergyHash (window 8, complete windows
      // only): bit w set iff window w+1's magnitude sum beats window w's.
      """WITH s AS (SELECT doc_id, i, (doc_id*31 + i*7) % 65536 AS u
        |  FROM documents, unnest(range(0, doc_id % 50 + 10)) t(i)),
        |a AS (SELECT doc_id, i, CASE WHEN u < 32768 THEN u ELSE 65536 - u END AS amp FROM s),
        |n AS (SELECT doc_id, count(*) AS ns FROM a GROUP BY 1),
        |w AS (SELECT a.doc_id, i // 8 AS w, SUM(amp) AS e
        |  FROM a JOIN n USING (doc_id) WHERE i // 8 < ns // 8 GROUP BY 1, 2),
        |h AS (SELECT x.doc_id,
        |    COALESCE(SUM(CASE WHEN y.e > x.e THEN 1::BIGINT << CAST(x.w AS INT) ELSE 0::BIGINT END), 0) AS ehash
        |  FROM w x JOIN w y ON x.doc_id = y.doc_id AND y.w = x.w + 1
        |  WHERE x.w < 64 GROUP BY 1)
        |SELECT n.doc_id, CAST(ns AS BIGINT) AS n_samples,
        |  CAST(ns // 8 AS BIGINT) AS n_windows,
        |  CAST(COALESCE(h.ehash, 0) AS BIGINT) AS ehash
        |FROM n LEFT JOIN h USING (doc_id) ORDER BY doc_id""".stripMargin),

    // Luma-stat image QA over the real decoded raster (no resize).
    QuerySpec("q219_image_quality", ((s, d) =>
      Multimodal.imageQuality(
          Multimodal.syntheticImages(Tables.documents(s, d), "doc_id"))
        .toDF().orderBy(col("doc_id"))),
      // Mirrors Multimodal.imageQuality over syntheticImages: BT.601
      // luma stats of the full gradient raster.
      """WITH z AS (SELECT doc_id, doc_id % 16 + 1 AS w, doc_id % 7 + 1 AS h FROM documents),
        |px AS (SELECT doc_id, w, h,
        |    299*((doc_id + x*31 + y*17) % 256) + 587*((doc_id // 8 + x) % 256)
        |    + 114*((doc_id + y) % 256) AS l
        |  FROM z, unnest(range(0, w)) tx(x), unnest(range(0, h)) ty(y))
        |SELECT doc_id, CAST(max(w) AS INTEGER) AS width,
        |  CAST(max(h) AS INTEGER) AS height,
        |  CAST(sum(l) // count(*) AS BIGINT) AS mean_luma,
        |  CAST(min(l) AS BIGINT) AS min_luma, CAST(max(l) AS BIGINT) AS max_luma
        |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // Graded Kendall τ-b (B=100): ordinal concordance of event value
    // with time per event type — C−D exact on the grade grid via
    // bounded quadrant sweeps, never a pair join.
    QuerySpec("q223_kendall_grade", ((s, d) =>
      Behavior.kendallGradePpm(Tables.events(s, d), "event_type",
          expr("floor(unix_timestamp(ts))"), expr("floor(value * 1000)"))
        .orderBy(col("event_type"))),
      // Mirrors Behavior.kendallGradePpm (B=100): q175's grade tables,
      // then C−D exact on the grade grid via the same two bounded window
      // sweeps; τ-b² on doubled denominators, two-step floor division.
      """WITH b AS (SELECT event_type AS g, CAST(floor(epoch(ts)) AS BIGINT) AS x,
        |    CAST(floor(value * 1000) AS BIGINT) AS y FROM events),
        |cx AS (SELECT g, x, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1, 2),
        |gx AS (SELECT g, x, (100 * (2 * SUM(c) OVER (PARTITION BY g ORDER BY x) - c))
        |      // (2 * SUM(c) OVER (PARTITION BY g)) AS gx FROM cx),
        |cy AS (SELECT g, y, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1, 2),
        |gy AS (SELECT g, y, (100 * (2 * SUM(c) OVER (PARTITION BY g ORDER BY y) - c))
        |      // (2 * SUM(c) OVER (PARTITION BY g)) AS gy FROM cy),
        |j AS (SELECT b.g, gx.gx, gy.gy FROM b
        |  JOIN gx ON gx.g = b.g AND gx.x = b.x
        |  JOIN gy ON gy.g = b.g AND gy.y = b.y),
        |cells AS (SELECT g, gx, gy, CAST(count(*) AS BIGINT) AS c FROM j GROUP BY 1, 2, 3),
        |dense AS (SELECT xs.g, xs.gx, ys.gy, COALESCE(cells.c, 0) AS c
        |  FROM (SELECT DISTINCT g, gx FROM cells) xs
        |  JOIN (SELECT DISTINCT g, gy FROM cells) ys ON ys.g = xs.g
        |  LEFT JOIN cells ON cells.g = xs.g AND cells.gx = xs.gx AND cells.gy = ys.gy),
        |s1 AS (SELECT g, gx, gy, c, COALESCE(SUM(c) OVER (PARTITION BY g, gy ORDER BY gx
        |    ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), 0) AS sgt FROM dense),
        |s2 AS (SELECT g, gx, gy, c,
        |    COALESCE(SUM(sgt) OVER (PARTITION BY g, gx ORDER BY gy
        |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), 0) AS spp,
        |    COALESCE(SUM(sgt) OVER (PARTITION BY g, gx ORDER BY gy
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS spm
        |  FROM s1),
        |numt AS (SELECT g, SUM(CAST(c AS HUGEINT) * spp) - SUM(CAST(c AS HUGEINT) * spm) AS num
        |  FROM s2 GROUP BY 1),
        |tx AS (SELECT g, SUM(CAST(t AS HUGEINT) * (t - 1)) AS tx FROM
        |  (SELECT g, gx, SUM(c) AS t FROM cells GROUP BY 1, 2) GROUP BY 1),
        |ty AS (SELECT g, SUM(CAST(t AS HUGEINT) * (t - 1)) AS ty FROM
        |  (SELECT g, gy, SUM(c) AS t FROM cells GROUP BY 1, 2) GROUP BY 1),
        |tot AS (SELECT g, CAST(SUM(c) AS BIGINT) AS n FROM cells GROUP BY 1),
        |d AS (SELECT tot.g, n, num,
        |    CAST(n AS HUGEINT) * (n - 1) - tx.tx AS dx,
        |    CAST(n AS HUGEINT) * (n - 1) - ty.ty AS dy
        |  FROM tot JOIN numt ON numt.g = tot.g
        |  JOIN tx ON tx.g = tot.g JOIN ty ON ty.g = tot.g)
        |SELECT g AS event_type, n AS n_points,
        |  CAST(CASE WHEN dx = 0 OR dy = 0 THEN 0
        |       WHEN num >= 0 THEN (((num * num * 4) // dx) * 1000000) // dy
        |       ELSE -((((num * num * 4) // dx) * 1000000) // dy) END AS BIGINT)
        |    AS kendall_tau2_signed_ppm
        |FROM d ORDER BY event_type""".stripMargin),

    // X202 CUSUM: daily event counts per type against ref level 66 —
    // the sequential "when did the level shift?" alarm next to the
    // two-snapshot drift tests; exact prefix-identity integers.
    QuerySpec("q237_cusum", ((s, d) =>
      Behavior.cusumSeries(
          Tables.events(s, d).groupBy(col("event_type"),
            datediff(to_date(col("ts")), lit("1970-01-01")).cast("long").as("day"))
            .agg(count(lit(1)).as("n")),
          "event_type", "day", col("n"), ref = 66L, threshold = 25L)
        .orderBy(col("event_type"), col("t"))),
      // Mirrors Behavior.cusumSeries over daily event counts: the
      // prefix identity S_t = cum - min(0, running min) for both
      // one-sided statistics, ref 66, threshold 25.
      """WITH dc AS (SELECT event_type,
        |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS t,
        |    CAST(count(*) AS BIGINT) AS v
        |  FROM events GROUP BY 1, 2),
        |c AS (SELECT event_type, t, v,
        |    SUM(v - 66) OVER (PARTITION BY event_type ORDER BY t) AS cum
        |  FROM dc),
        |mm AS (SELECT event_type, t, v, cum,
        |    least(0, min(cum) OVER (PARTITION BY event_type ORDER BY t)) AS mn,
        |    greatest(0, max(cum) OVER (PARTITION BY event_type ORDER BY t)) AS mx
        |  FROM c)
        |SELECT event_type, t, v,
        |  CAST(cum - mn AS BIGINT) AS s_pos,
        |  CAST(mx - cum AS BIGINT) AS s_neg,
        |  CAST(cum - mn > 25 OR mx - cum > 25 AS BIGINT) AS alarm
        |FROM mm ORDER BY event_type, t""".stripMargin),

    // X206 Theil-Sen robust trend on the q237 daily series: median
    // pairwise slope + intercept, outlier-proof where OLS is not.
    QuerySpec("q241_theil_sen", ((s, d) =>
      Behavior.theilSenSlope(
          Tables.events(s, d).groupBy(col("event_type"),
            datediff(to_date(col("ts")), lit("1970-01-01")).cast("long").as("day"))
            .agg(count(lit(1)).as("n")),
          "event_type", "day", col("n"))
        .orderBy(col("event_type"))),
      // Mirrors Behavior.theilSenSlope on the q237 daily series: DuckDB's
      // // TRUNCATES toward zero, so the slope's FLOOR division is spelled
      // with the same sign-split CASE as the Spark side; lower-median rank
      // picks on the compacted slope / intercept domains.
      """WITH dc AS (SELECT event_type AS g,
        |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS t,
        |    CAST(count(*) AS BIGINT) AS v
        |  FROM events GROUP BY 1, 2),
        |np AS (SELECT g, CAST(count(*) AS BIGINT) AS n_points FROM dc GROUP BY 1),
        |pr AS (SELECT a.g,
        |    CASE WHEN b.v >= a.v THEN ((b.v - a.v) * 1000000) // (b.t - a.t)
        |         ELSE -(((a.v - b.v) * 1000000 + (b.t - a.t) - 1) // (b.t - a.t))
        |    END AS s
        |  FROM dc a JOIN dc b ON a.g = b.g AND a.t < b.t),
        |ag AS (SELECT g, s, count(*) AS c FROM pr GROUP BY 1, 2),
        |cm AS (SELECT g, s, c, SUM(c) OVER (PARTITION BY g ORDER BY s) AS cum,
        |    SUM(c) OVER (PARTITION BY g) AS p FROM ag),
        |sl AS (SELECT g, CAST(p AS BIGINT) AS n_pairs, s AS slope FROM cm
        |  WHERE cum >= (p + 1) // 2 AND cum - c < (p + 1) // 2),
        |ic AS (SELECT sl.g, sl.n_pairs, sl.slope,
        |    dc.v * 1000000 - sl.slope * dc.t AS i
        |  FROM sl JOIN dc ON dc.g = sl.g),
        |ia AS (SELECT g, n_pairs, slope, i, count(*) AS c
        |  FROM ic GROUP BY 1, 2, 3, 4),
        |im AS (SELECT g, n_pairs, slope, i, c,
        |    SUM(c) OVER (PARTITION BY g ORDER BY i) AS cum FROM ia)
        |SELECT im.g AS event_type, np.n_points, im.n_pairs,
        |  CAST(im.slope AS BIGINT) AS slope_ppm,
        |  CAST(im.i AS BIGINT) AS intercept_ppm
        |FROM im JOIN np ON np.g = im.g
        |WHERE cum >= (n_points + 1) // 2 AND cum - c < (n_points + 1) // 2
        |ORDER BY event_type""".stripMargin),

    // O1-O5 composition under the hard gate: a REAL PipelineETL.run
    // over a staging fixture derived deterministically from `part`
    // (two price sheets with first-sheet-wins overlap + a maintenance
    // log whose latest event deactivates every 10th code), then the
    // resulting insumos warehouse table — orchestration order, A4
    // dedup, S10 upsert, and the J4/W1 status sync all in one row the
    // DuckDB twin reproduces from the same parquet.
    QuerySpec("q236_pipeline_e2e", ((s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("graft_e2e_staging")
      val wh = java.nio.file.Files.createTempDirectory("graft_e2e_wh").toString
      val parts = Tables.part(s, d).select(col("p_partkey"), col("p_name"))
        .orderBy(col("p_partkey"))
        .collect().map(r => (r.getLong(0), r.getString(1)))
      def write(name: String, lines: Iterator[String]): Unit = {
        val w = java.nio.file.Files.newBufferedWriter(dir.resolve(name),
          java.nio.charset.StandardCharsets.UTF_8)
        try lines.foreach { l => w.write(l); w.write("\n") } finally w.close()
      }
      write("ISD_202501.csv", Iterator(
          "SINAPI - Preços de Insumos;;;;",
          "Código do Insumo;Descrição do Insumo;Unidade;SP;RJ") ++
        parts.iterator.filter(_._1 % 2 == 0)
          .map { case (k, n) => s"$k;$n;UN;1,50;2,25" })
      write("ICD_202501.csv", Iterator(
          "SINAPI - Preços de Insumos (desonerado);;;;",
          "Código do Insumo;Descrição do Insumo;Unidade;SP;RJ") ++
        parts.iterator.filter(_._1 % 3 == 0)
          .map { case (k, n) => s"$k;$n DESON;UN;1,10;2,10" })
      write("Manutencoes_202501.csv", Iterator(
          "SINAPI - Relatório de Manutenções;;;;",
          "Referência;Tipo;Código;Descrição;Manutenção") ++
        parts.iterator.filter(_._1 % 2 == 0)
          .map { case (k, n) => s"01/2025;INSUMO;$k;$n;ALTERAÇÃO DE PREÇO" } ++
        parts.iterator.filter(_._1 % 10 == 0)
          .map { case (k, n) => s"02/2025;INSUMO;$k;$n;DESATIVAÇÃO" })
      val store = new graft.store.TableStore(s, wh)
      val report = new graft.pipeline.PipelineETL(s, store,
        graft.config.EngineConfig.load(env = Map.empty)).run(dir.toString, 2025, 1)
      require(report.status == "SUCESSO" && report.sheetErrors.isEmpty,
        s"pipeline run failed: $report")
      store.read("insumos")
        .select(col("codigo").cast("long").as("codigo"), col("descricao"),
          col("unidade"), col("status"))
        .orderBy(col("codigo"))
    }),
      // Mirrors the PipelineETL composition over the part-derived
      // fixture: ISD (even keys) wins the catalog consolidation over ICD
      // (multiples of 3, DESON-suffixed descriptions); every 10th code's
      // latest maintenance event is the deactivation.
      """WITH isd AS (SELECT CAST(p_partkey AS BIGINT) AS codigo, p_name AS descricao
        |  FROM part WHERE p_partkey % 2 = 0),
        |icd AS (SELECT CAST(p_partkey AS BIGINT) AS codigo, p_name || ' DESON' AS descricao
        |  FROM part WHERE p_partkey % 3 = 0),
        |cat AS (SELECT codigo, descricao FROM isd
        |  UNION ALL
        |  SELECT codigo, descricao FROM icd
        |  WHERE codigo NOT IN (SELECT codigo FROM isd))
        |SELECT codigo, descricao, 'UN' AS unidade,
        |  CASE WHEN codigo % 10 = 0 THEN 'DESATIVADO' ELSE 'ATIVO' END AS status
        |FROM cat ORDER BY codigo""".stripMargin),
  )
}
