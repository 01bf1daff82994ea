package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFeatures
import graft.ops.{Curation, Sketches, TextDedup}

/** Spark helpers and DuckDB oracle CTE strings shared by the query
  * families, over the synthetic `documents` / `embeddings` tables.
  *
  * Duplicate-detection queries run over a constructed corpus (documents ∪
  * exact clones ∪ 60%-prefix truncations) because the raw synthetic table
  * has no duplicates — the construction is mirrored verbatim in each
  * oracle's `corpus` CTE.
  *
  * Cross-engine determinism: every hash is a left-to-right polynomial
  * fold mod 1e9+7 over code points; every float is a left-to-right double
  * fold in array index order — both reproducible bit-for-bit in DuckDB's
  * list_reduce/list_transform.
  */
private[registry] object Shared {

  /** q24 stop-shingle cap: shingles present in more than this many
    * distinct texts are excluded (identically in Spark and the oracle). */
  val StopShingleDf = 100L

  // ---- Spark-side corpus construction (mirrors the corpus CTE) ---------

  /** The near-dup "daily batch": 60%-prefix truncations of every 5th
    * doc, shifted to ids +20000 — ONE spelling shared by demoCorpus,
    * q65, and q67 (each oracle mirrors it as its `trunc` CTE; a change
    * here must change those CTEs too). */
  def truncDocs(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), TextFeatures.tokens(col("text")).as("__toks"))
    .filter(col("doc_id") % 5 === 0 && size(col("__toks")) >= 5)
    .select((col("doc_id") + 20000).as("doc_id"),
      concat_ws(" ", slice(col("__toks"), lit(1),
        floor(size(col("__toks")) * 3 / 5).cast("int"))).as("text"))

  def demoCorpus(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), col("text"))
    val clones = base.select((col("doc_id") + 10000).as("doc_id"), col("text"))
    base.unionByName(clones).unionByName(truncDocs(docs))
  }

  /** documents with the (single parquet file) source fanned out for
    * compute-heavy per-doc stages — CONDITIONALLY, via the same guard as
    * the dedup operators: a well-partitioned 100 TB source must not pay
    * a corpus-wide round-robin shuffle just to enter a per-doc
    * projection. */
  def docsFanned(s: SparkSession, d: String): DataFrame =
    TextDedup.fanOut(Tables.documents(s, d))

  /** Quality-score frame with the is-English label and source — the
    * shared input of the q180–q182 evaluation metrics (score as the
    * "classifier", lang = 'en' as the target class). */
  def qualityLabeled(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    Curation.docQualityScorePpm(docs, "doc_id", "text")
      .join(docs.select(col("doc_id"), col("source"),
        (col("lang") === "en").cast("long").as("__lbl")), Seq("doc_id"))
  }

  def embCorpus(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    e.unionByName(e.select((col("vec_id") + 10000).as("vec_id"), col("embedding")))
  }

  // ---- DuckDB oracle CTEs ----------------------------------------------

  /** Shared q180–q182 CTE pair (`sc`, `lb`): the q147 integer quality
    * score joined with the is-English label and source. */
  def qualityLabeledCte: String = {
    val allStop = TextFeatures.stopwords.values.flatten.toSeq.distinct
      .map(w => s"'$w'").mkString("[", ",", "]")
    s"""sc AS (SELECT doc_id,
       |    ((length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1000000 // length(text))
       |     + (len(list_filter(toks, t -> list_contains($allStop, t))) * 1000000 // len(toks))) // 2
       |    AS score_ppm
       |  FROM (SELECT doc_id, text, list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM documents)
       |  WHERE len(toks) >= 1 AND length(text) >= 1),
       |lb AS (SELECT sc.doc_id, sc.score_ppm, d.source,
       |    CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS l
       |  FROM sc JOIN documents d USING (doc_id))""".stripMargin
  }

  /** One BM25 ranking chain (q41's arithmetic verbatim) under a CTE
    * prefix, sharing the caller's `dld`/`stats` CTEs — lets q194 rank
    * the same corpus under two probe-term sets in one statement. */
  def bm25RankCte(pfx: String, terms: Seq[String]): String = {
    val termList = terms.map(t => s"'$t'").mkString(", ")
    s"""${pfx}tf AS (SELECT doc_id, dl, term, count(*) AS tf
       |  FROM (SELECT doc_id, dl, unnest(toks) AS term FROM dld)
       |  WHERE term IN ($termList) GROUP BY 1, 2, 3),
       |${pfx}dfc AS (SELECT term, count(*) AS df FROM ${pfx}tf GROUP BY 1),
       |${pfx}scored AS (SELECT doc_id,
       |  CAST(floor(((n - df + 0.5)/(df + 0.5))
       |    * ((tf * (1.2 + 1)) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)))
       |    * 1000000.0) AS BIGINT) AS sq
       |  FROM ${pfx}tf JOIN ${pfx}dfc USING (term), stats),
       |${pfx}agg AS (SELECT doc_id, CAST(SUM(sq) AS BIGINT) AS bm25_q FROM ${pfx}scored GROUP BY 1),
       |${pfx}rk AS (SELECT doc_id,
       |  CAST(ROW_NUMBER() OVER (ORDER BY bm25_q DESC, doc_id ASC) AS BIGINT) AS rnk
       |  FROM ${pfx}agg)""".stripMargin
  }

  /** Polynomial code-point hash — DuckDB spelling of TextFeatures.charHash. */
  def dh(e: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split($e, ''), c -> CAST(ascii(c) AS BIGINT))), (a, x) -> (a*31 + x) % 1000000007)"

  /** DuckDB BT.601 luma of the synthetic-gradient pixel (`sx`, `sy`) of
    * image `doc_id` — mirrors ImageDecoder.encodePng's RGB arithmetic. */
  def dhLum(sx: String, sy: String): String =
    s"(299*((doc_id + ($sx)*31 + ($sy)*17) % 256) + " +
      s"587*(((doc_id // 8) + ($sx)) % 256) + 114*((doc_id + ($sy)) % 256))"

  /** One-shot self-scrub SQL — shared verbatim by q212 (one-shot) and
    * q220 (the incremental composition, which must land on the same
    * answer): keep the minimal doc_id·2²²+pos occurrence per
    * duplicated 5-window, cut every later one, re-digest. */
  lazy val selfScrubSql: String =
    s"""WITH $corpusCte, $tokCte,
       |win AS (SELECT doc_id, i AS pos,
       |    ${dh("array_to_string(list_slice(toks, i, i + 4), ' ')")} AS h
       |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 3)) AS i
       |        FROM tok WHERE len(toks) >= 5)),
       |f AS (SELECT h, min(doc_id * 4194304 + pos) AS fk
       |  FROM win GROUP BY h HAVING count(*) > 1),
       |hit AS (SELECT doc_id, list_sort(list(DISTINCT pos)) AS ps
       |  FROM win JOIN f USING (h) WHERE doc_id * 4194304 + pos <> fk
       |  GROUP BY doc_id),
       |k AS (SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
       |    list_filter(t.toks, (x, i) ->
       |      NOT len(list_filter(COALESCE(h.ps, []), p -> p <= i AND i < p + 5)) > 0) AS kept
       |  FROM tok t LEFT JOIN hit h USING (doc_id) WHERE len(t.toks) >= 1)
       |SELECT doc_id, n_tokens, CAST(len(kept) AS BIGINT) AS n_kept,
       |  CAST(CASE WHEN len(kept) = 0 THEN 0
       |       ELSE ${dh("array_to_string(kept, ' ')")} END AS BIGINT) AS scrub_digest
       |FROM k ORDER BY doc_id""".stripMargin

  /** The 64-bit dHash of synthetic image `doc_id` with dims (w, h),
    * recomputed arithmetically: bit b compares the resized lumas at
    * grid (x, y) = (b%8, b//8) vs (b%8+1, b//8) through the integer
    * nearest-neighbor source-pixel selection. Bit 63 is spelled as the
    * Long.MIN literal — DuckDB raises on `1 << 63` where Spark's
    * `|=` wraps, and the two's-complement sum is exact either way. */
  def dhashExpr: String = {
    val sx1 = "((b % 8) * w) // 9"
    val sx2 = "(((b % 8) + 1) * w) // 9"
    val sy = "((b // 8) * h) // 8"
    s"CAST(list_sum(list_transform(range(0, 64), b -> " +
      s"CASE WHEN ${dhLum(sx2, sy)} > ${dhLum(sx1, sy)} " +
      s"THEN CASE WHEN b = 63 THEN (-9223372036854775807 - 1) " +
      s"ELSE 1::BIGINT << b END ELSE 0::BIGINT END)) AS BIGINT)"
  }

  val corpusCte =
    """corpus AS (
      | SELECT doc_id, text FROM documents
      | UNION ALL SELECT doc_id + 10000 AS doc_id, text FROM documents
      | UNION ALL SELECT doc_id + 20000 AS doc_id,
      |   array_to_string(list_slice(toks, 1, CAST((len(toks)*3)//5 AS INT)), ' ') AS text
      |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM documents)
      |  WHERE doc_id % 5 = 0 AND len(toks) >= 5
      |)""".stripMargin

  val tokCte =
    "tok AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM corpus)"

  /** MinHash chain over relation `src` (CTE names prefixed with `p`):
    * trigram shingle hashes → 16-way signatures → 4 LSH bands →
    * candidate pairs with est_jaccard in `<p>est` (the oracle spelling
    * of TextDedup.minhashCandidates). */
  def minhashChain(src: String, p: String): String =
    s"""${p}tok AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM $src),
       |${p}hs AS (SELECT doc_id, list_transform(
       |    list_transform(range(1, len(toks)-1), i -> array_to_string(list_slice(toks, i, i+2), ' ')),
       |    s -> ${dh("s")}) AS hashes
       |  FROM ${p}tok WHERE len(toks) >= 3),
       |${p}sig AS (SELECT doc_id, list_transform(range(0, 16), j ->
       |    list_min(list_transform(hashes, h -> ((2*j+3)*h + (5*j+7)) % 1000000007))) AS sig
       |  FROM ${p}hs),
       |${p}band AS (SELECT doc_id, sig, b AS band,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_slice(sig, b*4+1, b*4+4)),
       |      (a, x) -> (a*1000003 + x) % 1000000007) AS bucket
       |  FROM ${p}sig, range(0, 4) t(b)),
       |${p}pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.sig AS sig_a, b.sig AS sig_b
       |  FROM ${p}band a JOIN ${p}band b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
       |${p}est AS (SELECT id_a, id_b,
       |  CAST(len(list_filter(range(1, 17), i -> sig_a[i] = sig_b[i])) AS DOUBLE)/16 AS est_jaccard
       |  FROM ${p}pairs)""".stripMargin

  /** The q22/q36 chain over the demo corpus (unprefixed names; `est`). */
  /** The q78/q139 oracle chain: 3 BPE merge rounds trained and applied
    * in recursive SQL, ending in w3(wid, syms, n) with w0 carrying the
    * word text. */
  lazy val bpeChainCtes: String = {
    def fold(name: String, prev: String, m: String): String =
      s"""$name(wid, i, acc) AS (
         |  SELECT wid, 1, [syms[1]] FROM $prev
         |  UNION ALL
         |  SELECT f.wid, f.i + 1,
         |    CASE WHEN f.acc[-1] = (SELECT l FROM $m) AND w.syms[f.i+1] = (SELECT r FROM $m)
         |      THEN list_append(f.acc[1:len(f.acc)-1], (SELECT l || r FROM $m))
         |      ELSE list_append(f.acc, w.syms[f.i+1]) END
         |  FROM $name f JOIN $prev w USING (wid) WHERE f.i < len(w.syms))""".stripMargin
    def pairs(name: String, src: String): String =
      s"""$name AS (SELECT syms[i] AS l, syms[i+1] AS r, SUM(n) AS f
         |  FROM $src, unnest(range(1, len(syms))) t(i) WHERE len(syms) >= 2 GROUP BY 1, 2)""".stripMargin
    s"""vocab AS (SELECT t AS w, COUNT(*) AS n FROM (
       |  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS t FROM documents) GROUP BY 1),
       |w0 AS (SELECT ROW_NUMBER() OVER (ORDER BY w) AS wid, w,
       |  list_transform(range(1, length(w)+1), i -> w[i:i]) AS syms, n FROM vocab),
       |${pairs("p1", "w0")},
       |m1 AS (SELECT l, r, f FROM p1 ORDER BY f DESC, l ASC, r ASC LIMIT 1),
       |${fold("f1", "w0", "m1")},
       |w1 AS (SELECT f.wid, f.acc AS syms, w.n FROM f1 f JOIN w0 w USING (wid) WHERE f.i = len(w.syms)),
       |${pairs("p2", "w1")},
       |m2 AS (SELECT l, r, f FROM p2 ORDER BY f DESC, l ASC, r ASC LIMIT 1),
       |${fold("f2", "w1", "m2")},
       |w2 AS (SELECT f.wid, f.acc AS syms, w.n FROM f2 f JOIN w1 w USING (wid) WHERE f.i = len(w.syms)),
       |${pairs("p3", "w2")},
       |m3 AS (SELECT l, r, f FROM p3 ORDER BY f DESC, l ASC, r ASC LIMIT 1),
       |${fold("f3", "w2", "m3")},
       |w3 AS (SELECT f.wid, f.acc AS syms, w.n FROM f3 f JOIN w2 w USING (wid) WHERE f.i = len(w.syms))"""
      .stripMargin
  }

  lazy val minhashCtes = s"$corpusCte,\n${minhashChain("corpus", "")}"

  /** The q25/q58 candidate-pair chain: duplicate-salted embedding
    * corpus → 2-band sign-LSH buckets → cap ≤ 10000 → distinct pairs
    * (with both vectors riding for the cosine confirm). */
  val embPairCtes =
    """ecorpus AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  UNION ALL SELECT vec_id + 10000, embedding FROM embeddings),
      |bk AS (SELECT vec_id, embedding, b AS band,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(0, 8), i ->
      |    CASE WHEN embedding[b*8+i+1] > 0 THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END)),
      |    (a, x) -> a + x) AS bucket
      |  FROM ecorpus, range(0, 2) t(b)),
      |ok AS (SELECT bk.vec_id, bk.embedding, bk.band, bk.bucket FROM bk
      |  JOIN (SELECT band, bucket, count(*) AS n FROM bk GROUP BY 1, 2) c
      |  USING (band, bucket) WHERE c.n <= 10000),
      |pairs AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b, a.embedding AS va, b.embedding AS vb
      |  FROM ok a JOIN ok b ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id)""".stripMargin

  /** [[embPairCtes]] without the hot-bucket cap: candidates straight
    * off the banded index — the enumeration the cap-free incremental
    * step ([[graft.ops.Similarity.nearDupStep]]) is contracted to. */
  val embPairCtesUncapped =
    """ecorpus AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  UNION ALL SELECT vec_id + 10000, embedding FROM embeddings),
      |bk AS (SELECT vec_id, embedding, b AS band,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(0, 8), i ->
      |    CASE WHEN embedding[b*8+i+1] > 0 THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END)),
      |    (a, x) -> a + x) AS bucket
      |  FROM ecorpus, range(0, 2) t(b)),
      |pairs AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b, a.embedding AS va, b.embedding AS vb
      |  FROM bk a JOIN bk b ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id)""".stripMargin

  def cosSql(a: String, b: String): String = {
    def dot(x: String, y: String) =
      s"list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, 65), i -> CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE))), (a, x) -> a + x)"
    s"${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)}))"
  }

  /** DuckDB HRW shard of `key` (a VARCHAR-typed SQL expression) among
    * `shards` — mirrors Curation.rendezvousShard: argmax of the
    * polynomial hash of key#s, ties to the larger shard id. */
  def hrwSql(key: String, shards: Int): String = {
    val items = (0 until shards).map { s =>
      val h = dh(s"'$s#' || $key")
      s"struct_pack(h := ($h) * ($h) % 1000000007, s := CAST($s AS BIGINT))"
    }.mkString(", ")
    s"list_reduce([$items], (a, x) -> CASE WHEN x.h > a.h OR (x.h = a.h AND x.s > a.s) THEN x ELSE a END).s"
  }

  /** One-shot near-dup pair SQL (capped construction) — q25's oracle. */
  lazy val nearDupSql: String =
    s"""WITH $embPairCtes
       |SELECT id_a, id_b, ${cosSql("va", "vb")} AS cosine
       |FROM pairs WHERE ${cosSql("va", "vb")} >= 0.99
       |ORDER BY id_a, id_b""".stripMargin

  /** Cap-FREE near-dup pair SQL — q227's oracle. The incremental step
    * is cap-free by design (the cap belongs at index build/compaction,
    * not inside the probe), so its equivalence contract is against the
    * UNCAPPED one-shot enumeration: on a corpus where any LSH bucket
    * exceeds the one-shot `bucketCap`, q25 drops pairs that the step
    * union rightly keeps. Same CTEs minus the bucket-count filter. */
  lazy val nearDupSqlUncapped: String =
    s"""WITH $embPairCtesUncapped
       |SELECT id_a, id_b, ${cosSql("va", "vb")} AS cosine
       |FROM pairs WHERE ${cosSql("va", "vb")} >= 0.99
       |ORDER BY id_a, id_b""".stripMargin

  /** cosSql over the first `d` dimensions only — the matryoshka
    * truncation: identical per-element double arithmetic and ascending
    * fold order, just fewer terms. */
  def cosSqlD(a: String, b: String, d: Int): String = {
    def dot(x: String, y: String) =
      s"list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, ${d + 1}), i -> CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE))), (a, x) -> a + x)"
    s"${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)}))"
  }

  val signBucketSql =
    "list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(0, 8), i -> CASE WHEN embedding[i+1] > 0 THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END)), (a, x) -> a + x)"

  def stopList(lang: String): String =
    TextFeatures.stopwords(lang).map(w => s"'$w'").mkString("[", ",", "]")

  /** Shared qsketch cell build (subBits=4) of documents.n_chars by
    * source — the q232/q233/q234 drift tier all read this one sketch,
    * exactly as Sketches.qsketchCells spells it (e = binary exponent
    * via length(bin(v)), m = v >> max(e−4, 0), v=0 → sentinel (−1,0)). */
  val docCellsCte =
    """src AS (SELECT source AS g, CAST(n_chars AS BIGINT) AS v FROM documents),
      |cells AS (SELECT g,
      |    CAST(CASE WHEN v = 0 THEN -1 ELSE length(bin(v)) - 1 END AS BIGINT) AS e,
      |    CAST(v >> greatest(CASE WHEN v = 0 THEN -1 ELSE length(bin(v)) - 1 END - 4, 0) AS BIGINT) AS m,
      |    CAST(count(*) AS BIGINT) AS cnt
      |  FROM src GROUP BY 1, 2, 3)""".stripMargin
}
