package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFeatures
import graft.ops.{BloomPrune, Quantize, Similarity, Sketches, Spectral, TermStats, ZOrder}

import Shared._

/** Sketches and vector search: KMV, count-min, HLL, quantile and
  * heavy-hitter sketches, Bloom filters, quantization, ANN / kNN and
  * embedding geometry, Z-order layout. */
private[registry] object SketchQueries {

  val specs: Seq[QuerySpec] = Seq(
    // Embedding-cosine near-dup pairs via sign-LSH buckets.
    QuerySpec("q25_embedding_neardup", ((s, d) =>
      Similarity.nearDupPairs(embCorpus(s, d), "vec_id", "embedding", 0.99)
        .orderBy(col("id_a"), col("id_b"))),
      // Mirrors the capped multi-band construction of
      // Similarity.nearDupCandidates: band b ∈ {0,1} buckets on the sign
      // pattern of dims [b*8+1, b*8+8]; buckets > cap are excluded; the
      // candidate set is the DISTINCT union over bands.
      nearDupSql),

    // Exact ANN baseline: brute-force cosine top-5, broadcast queries.
    QuerySpec("q26_knn_bruteforce", ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 20), "vec_id", "embedding", 5)
        .withColumnRenamed("rank", "rnk")
        .orderBy(col("query_id"), col("rnk"))
    }),
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 20),
         |c AS (SELECT vec_id AS neighbor_id, embedding AS ce FROM embeddings),
         |sc AS (SELECT query_id, neighbor_id, ${cosSql("qe", "ce")} AS cosine
         |  FROM q, c WHERE neighbor_id <> query_id),
         |rk AS (SELECT query_id, neighbor_id, cosine,
         |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rnk FROM sc)
         |SELECT query_id, neighbor_id, rnk, cosine FROM rk WHERE rnk <= 5
         |ORDER BY query_id, rnk""".stripMargin),

    // Scale-path ANN: sign-LSH bucketed top-3 (equi-join, no cross join).
    QuerySpec("q27_knn_lsh", ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.lshTopK(e, e.filter(col("vec_id") < 20), "vec_id", "embedding", 3)
        .withColumnRenamed("rank", "rnk")
        .orderBy(col("query_id"), col("rnk"))
    }),
      s"""WITH e AS (SELECT vec_id, embedding, $signBucketSql AS bucket FROM embeddings),
         |q AS (SELECT vec_id AS query_id, embedding AS qe, bucket FROM e WHERE vec_id < 20),
         |sc AS (SELECT query_id, e.vec_id AS neighbor_id, ${cosSql("qe", "e.embedding")} AS cosine
         |  FROM q JOIN e USING (bucket) WHERE e.vec_id <> query_id),
         |rk AS (SELECT query_id, neighbor_id, cosine,
         |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rnk FROM sc)
         |SELECT query_id, neighbor_id, rnk, cosine FROM rk WHERE rnk <= 3
         |ORDER BY query_id, rnk""".stripMargin),

    // IVF-style ANN: fixed seed centroids, probe-2 inverted lists.
    QuerySpec("q35_knn_ivf", ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.ivfTopK(e, e.filter(col("vec_id") < 20), "vec_id", "embedding", 5)
        .withColumnRenamed("rank", "rnk")
        .orderBy(col("query_id"), col("rnk"))
    }),
      s"""WITH seeds AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < 16),
         |scored AS (SELECT e.vec_id, e.embedding, s.cid, ${cosSql("e.embedding", "s.ce")} AS c
         |  FROM embeddings e, seeds s),
         |assign AS (SELECT vec_id AS neighbor_id, embedding AS cv, cid FROM (
         |  SELECT vec_id, embedding, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY c DESC, cid ASC) AS rn
         |  FROM scored) WHERE rn = 1),
         |probes AS (SELECT vec_id AS query_id, embedding AS qv, cid FROM (
         |  SELECT vec_id, embedding, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY c DESC, cid ASC) AS rn
         |  FROM scored WHERE vec_id < 20) WHERE rn <= 2),
         |cand AS (SELECT query_id, neighbor_id, ${cosSql("qv", "cv")} AS cosine
         |  FROM probes JOIN assign USING (cid) WHERE neighbor_id <> query_id),
         |rk AS (SELECT query_id, neighbor_id, cosine,
         |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rnk FROM cand)
         |SELECT query_id, neighbor_id, rnk, cosine FROM rk WHERE rnk <= 5
         |ORDER BY query_id, rnk""".stripMargin),

    // Product-quantization codes: 8 subvectors against the first-16
    // codebook — m codes per vector replace 64 floats; assignment is
    // one native codegen'd projection, no per-(row, code) explode.
    QuerySpec("q143_pq_codes", ((s, d) =>
      Quantize.pqCodes(Tables.embeddings(s, d), "vec_id", "embedding")
        .orderBy(col("vec_id"), col("sub"))),
      // PQ: first-16 codebook indexed 0..15 in id order; per (vec, sub)
      // the ordered double fold of squared diffs, argmin by (d2, code).
      """WITH cb AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS code, embedding AS ce
        |  FROM embeddings WHERE vec_id < 16),
        |d AS (SELECT e.vec_id, s.sub, cb.code,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, 9), i ->
        |      (CAST(e.embedding[s.sub*8 + i] AS DOUBLE) - CAST(cb.ce[s.sub*8 + i] AS DOUBLE))
        |      * (CAST(e.embedding[s.sub*8 + i] AS DOUBLE) - CAST(cb.ce[s.sub*8 + i] AS DOUBLE)))),
        |      (a, x) -> a + x) AS d2
        |  FROM embeddings e, range(0, 8) s(sub), cb),
        |a AS (SELECT vec_id, sub, code,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d2 ASC, code ASC) AS rn FROM d)
        |SELECT vec_id, CAST(sub AS BIGINT) AS sub, CAST(code AS BIGINT) AS code
        |FROM a WHERE rn = 1 ORDER BY vec_id, sub""".stripMargin),

    // kNN label agreement over the LSH neighbor frame: the label-noise
    // detector — low-agreement points are review candidates.
    QuerySpec("q199_label_noise", ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.labelAgreement(
          Similarity.lshTopK(e, e, "vec_id", "embedding", k = 5),
          e.select(col("vec_id"), col("label")),
          "vec_id", "label", minAgreePpm = 400000L)
        .orderBy(col("query_id"))
    }),
      // Label noise: the q27 LSH chain with every vector as query,
      // top-5, label join, agreement fold.
      s"""WITH e AS (SELECT vec_id, embedding, label, $signBucketSql AS bucket FROM embeddings),
         |sc AS (SELECT q.vec_id AS query_id, e2.vec_id AS neighbor_id,
         |    ${cosSql("q.embedding", "e2.embedding")} AS cosine
         |  FROM e q JOIN e e2 USING (bucket) WHERE e2.vec_id <> q.vec_id),
         |rk AS (SELECT query_id, neighbor_id,
         |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rnk FROM sc),
         |top AS (SELECT query_id, neighbor_id FROM rk WHERE rnk <= 5),
         |j AS (SELECT t.query_id, CAST(ql.label AS VARCHAR) AS l,
         |    CASE WHEN CAST(nl.label AS VARCHAR) = CAST(ql.label AS VARCHAR) THEN 1 ELSE 0 END AS agree
         |  FROM top t JOIN embeddings ql ON ql.vec_id = t.query_id
         |  JOIN embeddings nl ON nl.vec_id = t.neighbor_id),
         |a AS (SELECT query_id, l, CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(agree) AS BIGINT) AS na FROM j GROUP BY 1, 2)
         |SELECT query_id, l AS label, n AS n_neighbors, na AS n_agree,
         |  CAST((na * 1000000) // n AS BIGINT) AS agree_ppm,
         |  CAST(CASE WHEN (na * 1000000) // n < 400000 THEN 1 ELSE 0 END AS BIGINT) AS suspect
         |FROM a ORDER BY query_id""".stripMargin),

    // Embedding anisotropy probe: mean pairwise dot via the closed
    // form ‖Σv‖² − Σ‖v‖² — one corpus pass, no pair join.
    QuerySpec("q177_anisotropy", ((s, d) =>
      Spectral.anisotropyPpm(Tables.embeddings(s, d), "embedding")),
      // Anisotropy: ‖Σv‖² − Σ‖v‖² on 10³-quantized elements, the same
      // sign-split two-step floor division.
      """WITH q AS (SELECT list_transform(embedding,
        |      v -> CAST(floor(CAST(v AS DOUBLE) * 1000) AS BIGINT)) AS qv
        |  FROM embeddings),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(max(len(qv)) AS BIGINT) AS dims,
        |    CAST(SUM(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(qv, x -> x * x)), (a, b) -> a + b)) AS HUGEINT) AS tq
        |  FROM q),
        |p AS (SELECT i, SUM(qv[CAST(i AS INT)]) AS s
        |  FROM q, (SELECT unnest(range(1, 65)) AS i) GROUP BY 1),
        |sn AS (SELECT SUM(CAST(s AS HUGEINT) * s) AS snorm FROM p),
        |f AS (SELECT n, dims, tq, snorm, snorm - tq AS d FROM t, sn)
        |SELECT n AS n_vecs, dims,
        |  CAST(CASE WHEN n < 2 THEN 0
        |       WHEN d >= 0 THEN d // (CAST(n AS HUGEINT) * (n - 1))
        |       ELSE -((-d) // (CAST(n AS HUGEINT) * (n - 1))) END AS BIGINT)
        |    AS mean_pair_dot_q3,
        |  CAST(CASE WHEN n < 2 OR tq = 0 THEN 0
        |       WHEN d >= 0 THEN ((d * 1000000) // tq) // (n - 1)
        |       ELSE -(((-d) * 1000000 // tq) // (n - 1)) END AS BIGINT)
        |    AS anisotropy_ppm
        |FROM f""".stripMargin),

    // ANN recall@3: the LSH path graded against brute-force truth per
    // query — the parameter-tuning loop, oracle-checked.
    QuerySpec("q165_ann_recall", ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.annRecallReport(e, e.filter(col("vec_id") < 20),
          "vec_id", "embedding", 3)
        .orderBy(col("query_id"))
    }),
      // ANN recall: q26's brute truth vs q27's LSH candidates, semi-join
      // hit counts, truth-sized denominators, zero-hit queries kept.
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 20),
         |c AS (SELECT vec_id AS neighbor_id, embedding AS ce FROM embeddings),
         |sc AS (SELECT query_id, neighbor_id, ${cosSql("qe", "ce")} AS cosine
         |  FROM q, c WHERE neighbor_id <> query_id),
         |tr AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rnk FROM sc)
         |  WHERE rnk <= 3),
         |eb AS (SELECT vec_id, embedding, $signBucketSql AS bucket FROM embeddings),
         |qb AS (SELECT vec_id AS query_id, embedding AS qe, bucket FROM eb WHERE vec_id < 20),
         |sc2 AS (SELECT query_id, eb.vec_id AS neighbor_id, ${cosSql("qe", "eb.embedding")} AS cosine
         |  FROM qb JOIN eb USING (bucket) WHERE eb.vec_id <> query_id),
         |ap AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rnk FROM sc2)
         |  WHERE rnk <= 3),
         |ht AS (SELECT tr.query_id, CAST(count(*) AS BIGINT) AS n_hit
         |  FROM tr JOIN ap USING (query_id, neighbor_id) GROUP BY 1),
         |dn AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_truth FROM tr GROUP BY 1)
         |SELECT dn.query_id, dn.n_truth,
         |  CAST(COALESCE(ht.n_hit, 0) AS BIGINT) AS n_hit,
         |  CAST(COALESCE(ht.n_hit, 0) * 1000000 // dn.n_truth AS BIGINT) AS recall_ppm
         |FROM dn LEFT JOIN ht USING (query_id)
         |ORDER BY dn.query_id""".stripMargin),

    // MMR diverse top-5 vs query vector 0 (λ = 0.7): relevance minus
    // max-similarity-to-picked — kNN without the k near-copies.
    QuerySpec("q159_mmr_select", ((s, d) => {
      val e = Tables.embeddings(s, d)
      val qv = e.filter(col("vec_id") === 0).select(col("embedding"))
        .head().getSeq[Float](0).toArray
      Similarity.mmrSelect(e.filter(col("vec_id") > 0), "vec_id",
          "embedding", qv, k = 5)
        .orderBy(col("rnk"))
    }),
      // MMR: k=5 greedy rounds unrolled as CTEs — each picks argmax of
      // 0.7*rel - 0.3*max(cos to prior picks), ties to min id.
      {
        val rounds = (2 to 5).map { i =>
          val prevList = (1 until i).map(j => s"p$j").mkString(", ")
          val notIn = (1 until i).map(j => s"SELECT vec_id FROM p$j")
            .mkString(" UNION ALL ")
          val sims = (1 until i).map(j => cosSql("r.embedding", s"p$j.embedding"))
          val maxsim = if (sims.size == 1) sims.head
            else s"greatest(${sims.mkString(", ")})"
          s"""p$i AS (SELECT r.vec_id, r.embedding, r.rel,
             |  0.7 * r.rel - 0.3 * ($maxsim) AS score
             |  FROM rel r, $prevList WHERE r.vec_id NOT IN ($notIn)
             |  ORDER BY score DESC, r.vec_id ASC LIMIT 1)""".stripMargin
        }.mkString(",\n")
        s"""WITH c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id > 0),
           |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
           |rel AS (SELECT c.vec_id, c.embedding, ${cosSql("c.embedding", "q.qe")} AS rel FROM c, q),
           |p1 AS (SELECT vec_id, embedding, rel, 0.7 * rel AS score
           |  FROM rel ORDER BY score DESC, vec_id ASC LIMIT 1),
           |$rounds,
           |u AS (SELECT 1 AS r, vec_id, rel, score FROM p1
           |  UNION ALL SELECT 2, vec_id, rel, score FROM p2
           |  UNION ALL SELECT 3, vec_id, rel, score FROM p3
           |  UNION ALL SELECT 4, vec_id, rel, score FROM p4
           |  UNION ALL SELECT 5, vec_id, rel, score FROM p5)
           |SELECT CAST(r AS BIGINT) AS rnk, vec_id, rel, score
           |FROM u ORDER BY rnk""".stripMargin
      }),

    // Hard-negative mining: per query the top-5 most similar vectors
    // that are NOT near-dups (LSH pair set at 0.99) — contrastive
    // negatives without false-negative poisoning.
    QuerySpec("q148_hard_negatives", ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.hardNegatives(e, e.filter(col("vec_id") < 20), "vec_id",
          "embedding", k = 5)
        .orderBy(col("query_id"), col("rnk"))
    }),
      // Hard negatives: plain-corpus LSH pair set (2 bands, cap 10000)
      // at cosine >= 0.99, anti-joined off the brute-force ranking.
      s"""WITH bk AS (SELECT vec_id, embedding, b AS band,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(0, 8), i ->
         |    CASE WHEN embedding[b*8+i+1] > 0 THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END)),
         |    (a, x) -> a + x) AS bucket
         |  FROM embeddings, range(0, 2) t(b)),
         |ok AS (SELECT bk.vec_id, bk.embedding, bk.band, bk.bucket FROM bk
         |  JOIN (SELECT band, bucket, count(*) AS n FROM bk GROUP BY 1, 2) c
         |  USING (band, bucket) WHERE c.n <= 10000),
         |p0 AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b, a.embedding AS va, b.embedding AS vb
         |  FROM ok a JOIN ok b ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
         |dup AS (SELECT id_a, id_b FROM p0 WHERE ${cosSql("va", "vb")} >= 0.99),
         |dk AS (SELECT id_a AS query_id, id_b AS neighbor_id FROM dup
         |  UNION ALL SELECT id_b, id_a FROM dup),
         |q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 20),
         |sc AS (SELECT q.query_id, e.vec_id AS neighbor_id, ${cosSql("q.qe", "e.embedding")} AS cosine
         |  FROM q, embeddings e WHERE e.vec_id <> q.query_id
         |    AND NOT EXISTS (SELECT 1 FROM dk
         |      WHERE dk.query_id = q.query_id AND dk.neighbor_id = e.vec_id)),
         |rk AS (SELECT query_id, neighbor_id, cosine,
         |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rnk FROM sc)
         |SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rnk, cosine
         |FROM rk WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin),

    // PQ asymmetric-distance kNN: per-query (sub, code) distance table
    // broadcast onto the code table, m lookups summed as quantized
    // longs — the corpus is never decoded.
    QuerySpec("q144_pq_adc_knn", ((s, d) => {
      val e = Tables.embeddings(s, d)
      Quantize.pqAdcTopK(e, e.filter(col("vec_id") < 20), "vec_id",
          "embedding", 3)
        .orderBy(col("query_id"), col("rnk"))
    }),
      // ADC: q143's code CTE + a query distance table quantized at 1e9
      // BEFORE summing, so ranks are merge-order exact.
      """WITH cb AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS code, embedding AS ce
        |  FROM embeddings WHERE vec_id < 16),
        |d AS (SELECT e.vec_id, s.sub, cb.code,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, 9), i ->
        |      (CAST(e.embedding[s.sub*8 + i] AS DOUBLE) - CAST(cb.ce[s.sub*8 + i] AS DOUBLE))
        |      * (CAST(e.embedding[s.sub*8 + i] AS DOUBLE) - CAST(cb.ce[s.sub*8 + i] AS DOUBLE)))),
        |      (a, x) -> a + x) AS d2
        |  FROM embeddings e, range(0, 8) s(sub), cb),
        |codes AS (SELECT vec_id AS neighbor_id, sub, code FROM (
        |  SELECT vec_id, sub, code,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d2 ASC, code ASC) AS rn FROM d)
        |  WHERE rn = 1),
        |dt AS (SELECT vec_id AS query_id, sub, code,
        |    CAST(floor(d2 * 1000000000) AS BIGINT) AS dq
        |  FROM d WHERE vec_id < 20),
        |adc AS (SELECT dt.query_id, c.neighbor_id, CAST(SUM(dt.dq) AS BIGINT) AS dist_q
        |  FROM codes c JOIN dt USING (sub, code)
        |  WHERE c.neighbor_id <> dt.query_id GROUP BY 1, 2),
        |rk AS (SELECT query_id, neighbor_id, dist_q,
        |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dist_q ASC, neighbor_id ASC) AS rnk FROM adc)
        |SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rnk, dist_q
        |FROM rk WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin),

    // Multi-probe sign-LSH kNN: q27's shape plus the 8 one-bit-flip
    // probe buckets per query — the recall knob with no new index.
    QuerySpec("q141_knn_multiprobe", ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.multiProbeTopK(e, e.filter(col("vec_id") < 20), "vec_id",
          "embedding", 3)
        .withColumnRenamed("rank", "rnk")
        .orderBy(col("query_id"), col("rnk"))
    }),
      // Multi-probe: query buckets XOR {0, 1<<i}, distinct pairs before
      // the rank, vectors re-joined for the cosine.
      s"""WITH e AS (SELECT vec_id, embedding, $signBucketSql AS bucket FROM embeddings),
         |q0 AS (SELECT vec_id AS query_id, embedding AS qe, bucket FROM e WHERE vec_id < 20),
         |q AS (SELECT query_id, xor(bucket, m) AS bucket
         |  FROM q0, unnest([0,1,2,4,8,16,32,64,128]) t(m)),
         |sc AS (SELECT DISTINCT query_id, e.vec_id AS neighbor_id
         |  FROM q JOIN e USING (bucket) WHERE e.vec_id <> query_id),
         |cand AS (SELECT sc.query_id, sc.neighbor_id,
         |    ${cosSql("q0.qe", "e.embedding")} AS cosine
         |  FROM sc JOIN q0 USING (query_id) JOIN e ON e.vec_id = sc.neighbor_id),
         |rk AS (SELECT query_id, neighbor_id, cosine,
         |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rnk FROM cand)
         |SELECT query_id, neighbor_id, rnk, cosine FROM rk WHERE rnk <= 3
         |ORDER BY query_id, rnk""".stripMargin),

    // Count-min join-cardinality estimate for the lineitem self-join on
    // l_partkey (the dedup/salting pre-flight number), next to the
    // exact sum of squared key counts.
    QuerySpec("q142_join_size_estimate", ((s, d) => {
      val li = Tables.lineitem(s, d).select(col("l_partkey"))
      Sketches.cmJoinCardinality(li, col("l_partkey"), li, col("l_partkey"))
    }),
      // Join size: exact sum of squared key counts vs the count-min
      // inner-product minimum over rows; HUGEINT products.
      s"""WITH h AS (SELECT ${dh("CAST(l_partkey AS VARCHAR)")} AS hh FROM lineitem),
         |cells AS (SELECT j, ((2*j+3)*hh + (5*j+7)) % 1000000007 % 512 AS cell,
         |    CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM h, range(0, 3) r(j) GROUP BY 1, 2),
         |est AS (SELECT MIN(ip) AS cm_est FROM (
         |  SELECT j, SUM(CAST(cnt AS HUGEINT) * cnt) AS ip FROM cells GROUP BY j)),
         |ex AS (SELECT SUM(CAST(c AS HUGEINT) * c) AS exact FROM (
         |  SELECT COUNT(*) AS c FROM lineitem GROUP BY l_partkey))
         |SELECT CAST(ex.exact AS BIGINT) AS exact, CAST(est.cm_est AS BIGINT) AS cm_est,
         |  CASE WHEN ex.exact > 0 THEN
         |    CAST(((est.cm_est - ex.exact) * 1000000) // ex.exact AS BIGINT) END AS err_ppm
         |FROM ex, est""".stripMargin),

    // Deterministic ±1 random projection (JL / SRP): 64-dim embeddings
    // onto 16 pseudo-random hyperplanes, sign bits packed per vector.
    // Pure per-row integer arithmetic — zero shuffle before the sort.
    QuerySpec("q84_random_projection", ((s, d) =>
      Similarity.randomProject(Tables.embeddings(s, d), "vec_id",
          "embedding", dims = 64, outDims = 16)
        .orderBy(col("vec_id"), col("pos"))),
      // Mirrors Similarity.randomProject (dims 64, outDims 16, scale 1e6):
      // plane(j,d) = ±1 from bit 16 of the LCG at flat index j*64+d; all
      // arithmetic integer after the one quantizing multiply.
      """WITH qe AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000000) AS BIGINT)) AS q FROM embeddings),
        |pr AS (SELECT vec_id, list_transform(range(0, 16), j ->
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(0, 64), d ->
        |      (CASE WHEN (((j*64 + d) * 1103515245 + 12345) // 65536) % 2 = 0 THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END) * q[d+1])),
        |      (a, b) -> a + b)) AS projs
        |  FROM qe),
        |sg AS (SELECT vec_id, projs,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(0, 16), j ->
        |      CASE WHEN projs[j+1] > 0 THEN CAST(1 AS BIGINT) << j ELSE CAST(0 AS BIGINT) END)),
        |      (a, b) -> a + b) AS srp_sig
        |  FROM pr)
        |SELECT vec_id, srp_sig, CAST(j AS BIGINT) AS pos, projs[j+1] AS proj
        |FROM sg, range(0, 16) r(j)
        |ORDER BY vec_id, pos""".stripMargin),

    // Cross-corpus overlap from KMV sketches: three constructed corpora
    // with controlled overlap (doc_id % 2/3/5), pairwise Jaccard
    // estimated from pooled bottom-64 sketches alone — no
    // corpus-vs-corpus join ever happens.
    QuerySpec("q74_corpus_overlap", ((s, d) => {
      val base = Tables.documents(s, d)
      def part(m: Int, g: String) = base.filter(col("doc_id") % m === 0)
        .select(lit(g).as("corpus"), col("text"))
      Sketches.kmvPairwiseJaccard(
          part(2, "a").unionByName(part(3, "b")).unionByName(part(5, "c")),
          "corpus", col("text"), 64)
        .orderBy(col("g_a"), col("g_b"))
    }),
      // Mirrors Sketches.kmvPairwiseJaccard (k=64): per-corpus bottom-64
      // mixed-hash sets, pooled bottom-64 per pair, membership probes,
      // ppm-quantized estimate.
      s"""WITH corp AS (
         |  SELECT 'a' AS g, text FROM documents WHERE doc_id % 2 = 0
         |  UNION ALL SELECT 'b', text FROM documents WHERE doc_id % 3 = 0
         |  UNION ALL SELECT 'c', text FROM documents WHERE doc_id % 5 = 0),
         |hd AS (SELECT DISTINCT g, ${dh("text")} AS h FROM corp),
         |mxs AS (SELECT DISTINCT g, ((48271 * ((h * h) % 1000000007)) % 1000000007
         |    + (16807 * h) % 1000000007) % 1000000007 AS m FROM hd),
         |sk AS (SELECT g, m FROM (SELECT g, m, ROW_NUMBER() OVER (PARTITION BY g ORDER BY m ASC) AS r FROM mxs) WHERE r <= 64),
         |pairs AS (SELECT a.g AS g_a, b.g AS g_b FROM (SELECT DISTINCT g FROM sk) a, (SELECT DISTINCT g FROM sk) b WHERE a.g < b.g),
         |pooled0 AS (
         |  SELECT DISTINCT g_a, g_b, m FROM (
         |    SELECT p.g_a, p.g_b, s.m FROM pairs p JOIN sk s ON s.g = p.g_a
         |    UNION ALL SELECT p.g_a, p.g_b, s.m FROM pairs p JOIN sk s ON s.g = p.g_b)),
         |pooled AS (SELECT g_a, g_b, m FROM (
         |  SELECT g_a, g_b, m, ROW_NUMBER() OVER (PARTITION BY g_a, g_b ORDER BY m ASC) AS r FROM pooled0) WHERE r <= 64)
         |SELECT p.g_a, p.g_b, COUNT(*) AS n_pool,
         |  CAST(SUM(CASE WHEN a.m IS NOT NULL AND b.m IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_common,
         |  CAST(SUM(CASE WHEN a.m IS NOT NULL AND b.m IS NOT NULL THEN 1 ELSE 0 END) * 1000000 // COUNT(*) AS BIGINT) AS jaccard_ppm
         |FROM pooled p
         |LEFT JOIN sk a ON a.g = p.g_a AND a.m = p.m
         |LEFT JOIN sk b ON b.g = p.g_b AND b.m = p.m
         |GROUP BY 1, 2 ORDER BY g_a, g_b""".stripMargin),

    // Per-label centroid accumulation over embeddings (classifier
    // prototypes): posexplode -> per-(label, dim) sums. Values are
    // quantized (floor(v*1e6) as long) so the partial-aggregate merge
    // order cannot perturb float sums — exact at any parallelism.
    QuerySpec("q33_label_centroids", ((s, d) =>
      Tables.embeddings(s, d)
        .select(col("label"), posexplode(col("embedding")))
        .select(col("label"), (col("pos") + 1).cast("long").as("pos"),
          floor(col("col").cast("double") * 1e6).cast("long").as("vq"))
        .groupBy(col("label"), col("pos"))
        .agg(sum(col("vq")).as("sum_q"), count(lit(1)).as("n"))
        .orderBy(col("label"), col("pos"))),
      """SELECT label, i AS pos,
        |  CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT) AS sum_q,
        |  COUNT(*) AS n
        |FROM embeddings, range(1, 65) r(i)
        |GROUP BY 1, 2 ORDER BY label, pos""".stripMargin),

    // Symmetric per-vector int8 quantization of the embedding table
    // (the 4x-at-rest storage path); emitted per-dimension for the
    // value-exact oracle compare.
    QuerySpec("q42_int8_quantize", ((s, d) =>
      Quantize.int8(Tables.embeddings(s, d), "vec_id", "embedding")
        .select(col("vec_id"), posexplode(col("qvec")),
          floor(col("scale") * 1e6).as("scale_q"))
        .select(col("vec_id"), (col("pos") + 1).cast("long").as("pos"),
          col("col").cast("long").as("q"), col("scale_q"))
        .orderBy(col("vec_id"), col("pos"))),
      """WITH s AS (SELECT vec_id, embedding,
        |  CASE WHEN list_max(list_transform(embedding, x -> abs(x))) > 0
        |       THEN 127.0 / CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE)
        |       ELSE 0.0 END AS scale
        |  FROM embeddings)
        |SELECT vec_id, i AS pos,
        |  CASE WHEN scale > 0
        |       THEN CAST(floor(CAST(embedding[i] AS DOUBLE) * scale) AS BIGINT)
        |       ELSE CAST(0 AS BIGINT) END AS q,
        |  CAST(floor(scale * 1000000) AS BIGINT) AS scale_q
        |FROM s, range(1, 65) r(i)
        |ORDER BY vec_id, pos""".stripMargin),

    // KMV (bottom-64) distinct-trigram sketch per language, paired with
    // the exact distinct count from the SAME one-shuffle hashed-pairs
    // frame — estimate and ground truth, both integer-exact. (Trigrams,
    // not tokens: the synthetic vocabulary is 31 words, which never
    // saturates the sketch; the trigram space is in the thousands.)
    QuerySpec("q54_kmv_distinct", ((s, d) => {
      val docs = docsFanned(s, d)
        .select(col("lang"), TextFeatures.tokens(col("text")).as("__toks"))
        .filter(size(col("__toks")) >= 3)
      val hashed = docs
        .select(col("lang"), explode(
          TextFeatures.shingleHashes(TextFeatures.shingles(col("__toks"), 3))).as("__h"))
        .distinct()
        .localCheckpoint() // forked: exact count + the sketch window
      val exact = hashed.groupBy("lang").agg(count(lit(1)).as("n_distinct"))
      exact.join(Sketches.kmvFromHashed(hashed, "lang", "__h", 64), Seq("lang"))
        .orderBy(col("lang"))
    }),
      // Mirrors the q54 composition: one distinct (lang, trigram-hash)
      // set feeds both the exact count and the bottom-64 KMV sketch; the
      // rank key is the quadratic 2-universal mix (a·h²+b·h mod p) of
      // Sketches.mix, and the estimator (k-1)·M // h(k) is pure integer
      // arithmetic.
      s"""WITH tok AS (SELECT lang, list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM documents),
         |g AS (SELECT lang, unnest(list_transform(
         |    list_transform(range(1, len(toks)-1), i -> array_to_string(list_slice(toks, i, i+2), ' ')),
         |    s -> ${dh("s")})) AS h
         |  FROM tok WHERE len(toks) >= 3),
         |hd AS (SELECT DISTINCT lang, h FROM g),
         |mx AS (SELECT lang, ((48271 * ((h * h) % 1000000007)) % 1000000007
         |    + (16807 * h) % 1000000007) % 1000000007 AS m FROM hd),
         |ex AS (SELECT lang, count(*) AS n_distinct FROM hd GROUP BY 1),
         |rk AS (SELECT lang, m, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY m ASC) AS r FROM mx),
         |kv AS (SELECT lang, count(*) AS n_kept, max(m) AS hk FROM rk WHERE r <= 64 GROUP BY 1)
         |SELECT lang, n_distinct, n_kept,
         |  CASE WHEN n_kept < 64 THEN n_kept
         |       ELSE CAST(63 AS BIGINT) * 1000000007 // hk END AS kmv_est
         |FROM ex JOIN kv USING (lang) ORDER BY lang""".stripMargin),

    // Count-min heavy hitters: 3×32 sketch (width forced small so the
    // min-over-rows actually fights collisions) vs exact counts for
    // tokens seen ≥ 20 times — est ≥ exact, never under.
    QuerySpec("q62_countmin_tokens", ((s, d) =>
      Sketches.countMinHeavyHitters(docsFanned(s, d), "text",
          depth = 3, width = 32, minCount = 20L)
        .orderBy(col("token"))),
      // Mirrors Sketches.countMinHeavyHitters (3×32, minCount 20): cell
      // counts per affine row hash, estimate = min over the token's 3
      // cells. `tok` is the hashed expression's variable name, so dh()
      // applies verbatim.
      s"""WITH t AS (SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok FROM documents),
         |h AS (SELECT tok, ${dh("tok")} AS hh FROM t),
         |cells AS (SELECT j, ((2*j+3)*hh + (5*j+7)) % 1000000007 % 32 AS cell, COUNT(*) AS cnt
         |  FROM h, range(0, 3) r(j) GROUP BY 1, 2),
         |probe AS (SELECT tok, hh, COUNT(*) AS exact_cnt FROM h GROUP BY 1, 2 HAVING COUNT(*) >= 20),
         |pc AS (SELECT tok, exact_cnt, j, ((2*j+3)*hh + (5*j+7)) % 1000000007 % 32 AS cell
         |  FROM probe, range(0, 3) r(j))
         |SELECT pc.tok AS token, CAST(exact_cnt AS BIGINT) AS exact_cnt, CAST(MIN(c.cnt) AS BIGINT) AS cm_est
         |FROM pc JOIN cells c USING (j, cell)
         |GROUP BY 1, 2 ORDER BY token""".stripMargin),

    // Top-principal-direction scores: 2 integer-exact power-iteration
    // rounds over the embedding Gram matrix — the dominant-semantic-axis
    // signal for whitening / outlier surfacing. Driver state = dims
    // values per round, like the centroid loops.
    QuerySpec("q66_top_component", ((s, d) =>
      Spectral.topComponentScores(
          Tables.embeddings(s, d).select(col("vec_id"), col("embedding")),
          "vec_id", "embedding", 2)
        .orderBy(col("vec_id"))),
      // Mirrors Spectral.topComponentScores (2 rounds, scale 1e6):
      // HUGEINT column sums, v ← (w·1e6)//max|w| (`//` truncates toward
      // zero — BigInt semantics), final score = dot with v2.
      {
        def itSql(prevV: String, n: Int): String = {
          val from = if (n > 1) s"qe, v${n - 1}" else "qe"
          s"""d$n AS (SELECT vec_id, q, list_reduce(list_transform(range(1, 65), i -> q[i]*$prevV), (a,b)->a+b) AS dot FROM $from),
             |w$n AS (SELECT i, SUM(CAST(d$n.dot AS HUGEINT) * q[i]) AS w FROM d$n, range(1, 65) r(i) GROUP BY i),
             |m$n AS (SELECT MAX(ABS(w)) AS m FROM w$n),
             |v$n AS (SELECT list(CAST((w * 1000000) // m AS BIGINT) ORDER BY i) AS v FROM w$n, m$n)""".stripMargin
        }
        s"""WITH qe AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000000) AS BIGINT)) AS q FROM embeddings),
           |${itSql("1000000", 1)},
           |${itSql("v[i]", 2)}
           |SELECT vec_id, CAST(list_reduce(list_transform(range(1, 65), i -> q[i]*v[i]), (a,b)->a+b) AS BIGINT) AS score
           |FROM qe, v2 ORDER BY vec_id""".stripMargin
      }),

    // HyperLogLog-family register table: per-event-type distinct-user
    // sketch state (64 byte-sized maxima per group, mergeable under any
    // order) — the fixed-size COUNT DISTINCT next to q54's KMV.
    QuerySpec("q88_hll_registers", ((s, d) =>
      Sketches.hllRegisters(Tables.events(s, d), "event_type",
          col("user_id").cast("string"), p = 6)
        .orderBy(col("event_type"), col("bucket"))),
      // Mirrors Sketches.hllRegisters (p=6, MaxRho=30): bucket = mix % 64,
      // rho = trailing zeros of (mix // 64) + 1 via the pure-integer
      // bit_count((r & -r) - 1) spelling, register = per-bucket max.
      {
        val vh = dh("CAST(user_id AS VARCHAR)")
        s"""WITH h0 AS (SELECT event_type, $vh AS h FROM events),
           |mx AS (SELECT event_type,
           |    ((48271 * ((h * h) % 1000000007)) % 1000000007
           |     + (16807 * h) % 1000000007) % 1000000007 AS m FROM h0),
           |b AS (SELECT event_type, m % 64 AS bucket, m // 64 AS r FROM mx),
           |rho AS (SELECT event_type, bucket,
           |    CASE WHEN r = 0 THEN 30
           |         ELSE least(30, bit_count((r & -r) - 1) + 1) END AS rho
           |  FROM b)
           |SELECT event_type, bucket, CAST(max(rho) AS BIGINT) AS register
           |FROM rho GROUP BY event_type, bucket
           |ORDER BY event_type, bucket""".stripMargin
      }),

    // Integer-exact HLL estimate off the q88 registers: harmonic-mean
    // formula with 2^-M weights as integers on the 2^30 scale, alpha as
    // the rational 709/1000 — bit-identical on any engine/merge order.
    QuerySpec("q91_hll_estimate", ((s, d) =>
      Sketches.hllEstimate(
          Sketches.hllRegisters(Tables.events(s, d), "event_type",
            col("user_id").cast("string"), p = 6),
          "event_type", p = 6)
        .orderBy(col("event_type"))),
      // Mirrors Sketches.hllEstimate over the q88 registers: integer
      // harmonic sum on the 2^30 scale, floor-DIV estimate.
      {
        val vh = dh("CAST(user_id AS VARCHAR)")
        s"""WITH h0 AS (SELECT event_type, $vh AS h FROM events),
           |mx AS (SELECT event_type,
           |    ((48271 * ((h * h) % 1000000007)) % 1000000007
           |     + (16807 * h) % 1000000007) % 1000000007 AS m FROM h0),
           |b AS (SELECT event_type, m % 64 AS bucket, m // 64 AS r FROM mx),
           |rho AS (SELECT event_type, bucket,
           |    CASE WHEN r = 0 THEN 30
           |         ELSE least(30, bit_count((r & -r) - 1) + 1) END AS rho
           |  FROM b),
           |regs AS (SELECT event_type, bucket, max(rho) AS register
           |  FROM rho GROUP BY event_type, bucket)
           |SELECT event_type, count(*) AS n_occupied,
           |  CAST((709 * 64 * 64 * CAST(1073741824 AS BIGINT)) //
           |    (1000 * (SUM(CAST(1 AS BIGINT) << (30 - register))
           |             + (64 - count(*)) * CAST(1073741824 AS BIGINT)))
           |    AS BIGINT) AS est
           |FROM regs GROUP BY event_type ORDER BY event_type""".stripMargin
      }),

    // Reciprocal-rank fusion of the BM25 lexical top-100 and the dense
    // cosine top-100 against query vector 0 — hybrid retrieval, every
    // fusion stage on O(lists·K) rows.
    QuerySpec("q98_rrf_fusion", ((s, d) => {
      val lex = TermStats.bm25Rank(docsFanned(s, d), "doc_id", "text",
          Seq("join", "vector", "stream"))
        .select(col("doc_id"), col("rnk"))
      val e = Tables.embeddings(s, d)
      val dense = Similarity.bruteForceTopK(e, e.filter(col("vec_id") === 0),
          "vec_id", "embedding", 100)
        .select(col("neighbor_id").as("doc_id"), col("rank").as("rnk"))
      TermStats.rrfFuse(Seq(lex, dense), "doc_id").orderBy(col("rnk"))
    }),
      // RRF fusion of the q41 BM25 lexical top-100 and dense cosine
      // top-100 vs query vector 0; contribution 1e6 DIV (60 + rnk).
      s"""WITH base AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM documents),
         |dld AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks FROM base),
         |stats AS (SELECT count(*) AS n, CAST(SUM(dl) AS DOUBLE)/count(*) AS avgdl FROM dld),
         |tf AS (SELECT doc_id, dl, term, count(*) AS tf
         |  FROM (SELECT doc_id, dl, unnest(toks) AS term FROM dld)
         |  WHERE term IN ('join', 'vector', 'stream') GROUP BY 1, 2, 3),
         |dfc AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |scored AS (SELECT doc_id,
         |  CAST(floor(((n - df + 0.5)/(df + 0.5))
         |    * ((tf * (1.2 + 1)) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)))
         |    * 1000000.0) AS BIGINT) AS sq
         |  FROM tf JOIN dfc USING (term), stats),
         |bagg AS (SELECT doc_id, CAST(SUM(sq) AS BIGINT) AS bm25_q FROM scored GROUP BY 1),
         |lex AS (SELECT doc_id, rnk FROM (SELECT doc_id,
         |  ROW_NUMBER() OVER (ORDER BY bm25_q DESC, doc_id ASC) AS rnk FROM bagg)
         |  WHERE rnk <= 100),
         |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |sc AS (SELECT vec_id AS doc_id, ${cosSql("qe", "embedding")} AS cosine
         |  FROM embeddings, q WHERE vec_id <> 0),
         |dense AS (SELECT doc_id, rnk FROM (SELECT doc_id,
         |  ROW_NUMBER() OVER (ORDER BY cosine DESC, doc_id ASC) AS rnk FROM sc)
         |  WHERE rnk <= 100),
         |u AS (SELECT doc_id, 1000000 // (60 + rnk) AS c FROM lex
         |  UNION ALL SELECT doc_id, 1000000 // (60 + rnk) FROM dense),
         |agg AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS rrf_q,
         |  count(*) AS n_lists FROM u GROUP BY 1),
         |fused AS (SELECT doc_id, rrf_q, n_lists,
         |  ROW_NUMBER() OVER (ORDER BY rrf_q DESC, doc_id ASC) AS rnk FROM agg)
         |SELECT doc_id, rrf_q, n_lists, rnk FROM fused WHERE rnk <= 100
         |ORDER BY rnk""".stripMargin),

    // SemDeDup on the cloned embedding corpus: cluster first (q39's
    // exact k-means), pairwise cosine only within clusters; every
    // +10000 clone has a cosine-1.0 lower-id mate and is dropped.
    QuerySpec("q120_semantic_dedup", ((s, d) =>
      Similarity.semanticDedup(embCorpus(s, d), "vec_id", "embedding",
          k = 8, iters = 2, tauMilli = 950L)
        .orderBy(col("vec_id"))),
      // SemDeDup: q39's unrolled 2-iteration Lloyd on the cloned corpus,
      // then within-cluster pairwise cosine; keep-lowest-id survivors.
      s"""WITH ecorpus AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL SELECT vec_id + 10000, embedding FROM embeddings),
         |c0 AS (SELECT vec_id AS cid, embedding AS ce FROM ecorpus WHERE vec_id < 8),
         |s1 AS (SELECT e.vec_id, e.embedding, c.cid, ${cosSql("e.embedding", "c.ce")} AS c
         |  FROM ecorpus e, c0 c),
         |a1 AS (SELECT vec_id, embedding, cid FROM (
         |  SELECT vec_id, embedding, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY c DESC, cid ASC) AS rn
         |  FROM s1) WHERE rn = 1),
         |c1d AS (SELECT cid, i,
         |  CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)) AS DOUBLE)
         |    / (CAST(COUNT(*) AS DOUBLE) * 1000000.0) AS cv
         |  FROM a1, range(1, 65) r(i) GROUP BY 1, 2),
         |c1 AS (SELECT cid, list(CAST(cv AS FLOAT) ORDER BY i) AS ce FROM c1d GROUP BY cid),
         |s2 AS (SELECT e.vec_id, c.cid, ${cosSql("e.embedding", "c.ce")} AS cosine
         |  FROM ecorpus e, c1 c),
         |a2 AS (SELECT vec_id, cid FROM (
         |  SELECT vec_id, cid, cosine, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cosine DESC, cid ASC) AS rn
         |  FROM s2) WHERE rn = 1),
         |dropped AS (SELECT DISTINCT y.vec_id
         |  FROM a2 x JOIN a2 y ON x.cid = y.cid AND x.vec_id < y.vec_id
         |  JOIN ecorpus ea ON x.vec_id = ea.vec_id
         |  JOIN ecorpus eb ON y.vec_id = eb.vec_id
         |  WHERE ${cosSql("ea.embedding", "eb.embedding")} >= 0.95)
         |SELECT vec_id, cid FROM a2
         |WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
         |ORDER BY vec_id""".stripMargin),

    // Z-order key: the Morton bit-interleave over two 8-bit dims —
    // pure codegen'd shift/mask projection, bit-exact against the
    // oracle's arithmetic respelling.
    QuerySpec("q207_zorder_key", ((s, d) =>
      ZOrder.withZ(
          Tables.documents(s, d).select(col("doc_id"),
            (col("doc_id") % 256).as("a"),
            (octet_length(col("text")) % 256).as("b")),
          Seq("a", "b"), 8)
        .select(col("doc_id"), col("z"))
        .orderBy(col("doc_id"))),
      // Mirrors ZOrder.zValue (bits=8, d=2): bit k of dim i lands at
      // position 2k+i — non-overlapping bits, so a plain SUM respells
      // the bitwise OR.
      """SELECT doc_id,
        |  CAST(list_sum(list_transform(range(0, 8), k -> (((doc_id % 256) >> k) & 1) << (2*k)))
        |  + list_sum(list_transform(range(0, 8), k -> (((strlen(text) % 256) >> k) & 1) << (2*k + 1)))
        |  AS BIGINT) AS z
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Z-order pruning stats: rows bucketed by the top 4 z bits, per-
    // bucket min/max/count of each dimension — the footer stats a
    // min/max-pruned scan consults; tight spans on BOTH dims are the
    // layout's whole point (ZOrderSpec pins the locality property; this
    // pins the stats frame itself against the oracle).
    QuerySpec("q208_zorder_stats", ((s, d) =>
      ZOrder.pruningStats(
          Tables.documents(s, d).select(col("doc_id"),
            (col("doc_id") % 256).as("a"),
            (octet_length(col("text")) % 256).as("b")),
          Seq("a", "b"), 8, log2Buckets = 4)
        .orderBy(col("bucket"))),
      // Mirrors ZOrder.pruningStats (top 4 z bits → 16 buckets).
      """WITH zz AS (SELECT doc_id, doc_id % 256 AS a, strlen(text) % 256 AS b,
        |    CAST(list_sum(list_transform(range(0, 8), k -> (((doc_id % 256) >> k) & 1) << (2*k)))
        |    + list_sum(list_transform(range(0, 8), k -> (((strlen(text) % 256) >> k) & 1) << (2*k + 1)))
        |    AS BIGINT) AS z
        |  FROM documents)
        |SELECT z >> 12 AS bucket, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(min(a) AS BIGINT) AS a_min, CAST(max(a) AS BIGINT) AS a_max,
        |  CAST(min(b) AS BIGINT) AS b_min, CAST(max(b) AS BIGINT) AS b_max
        |FROM zz GROUP BY 1 ORDER BY bucket""".stripMargin),

    // X178 quantile sketch, the cells: log-linear histogram of byte
    // lengths per doc_id%8 group — binary exponent + 4 mantissa bits,
    // every cell key an exact integer spelling the oracle reproduces
    // with length(bin(v)).
    QuerySpec("q209_qsketch_cells", ((s, d) =>
      Sketches.qsketchCells(
          Tables.documents(s, d).select((col("doc_id") % 8).as("grp"),
            octet_length(col("text")).cast("long").as("v")),
          "grp", col("v"), subBits = 4)
        .orderBy(col("grp"), col("e"), col("m"))),
      // Mirrors Sketches.qsketchCells (subBits=4): e = binary exponent
      // via length(bin(v)), m = v >> max(e-4, 0); v=0 → sentinel (-1, 0).
      """WITH v AS (SELECT doc_id % 8 AS grp, CAST(strlen(text) AS BIGINT) AS v
        |  FROM documents)
        |SELECT grp,
        |  CAST(CASE WHEN v = 0 THEN -1 ELSE length(bin(v)) - 1 END AS BIGINT) AS e,
        |  CAST(v >> greatest(CASE WHEN v = 0 THEN -1 ELSE length(bin(v)) - 1 END - 4, 0) AS BIGINT) AS m,
        |  CAST(count(*) AS BIGINT) AS cnt
        |FROM v GROUP BY 1, 2, 3 ORDER BY grp, e, m""".stripMargin),

    // X178 quantile sketch, the read side: p50/p90/p99 off the cells —
    // first cell whose cumulative count reaches ceil(pct·n/100), lower
    // bound + width in pure shifts; windows read the ≤1k-cell sketch,
    // never the corpus.
    QuerySpec("q210_qsketch_quantiles", ((s, d) =>
      Sketches.qsketchQuantiles(
          Sketches.qsketchCells(
            Tables.documents(s, d).select((col("doc_id") % 8).as("grp"),
              octet_length(col("text")).cast("long").as("v")),
            "grp", col("v"), subBits = 4),
          "grp", Seq(50, 90, 99), subBits = 4)
        .orderBy(col("grp"), col("pct"))),
      // Mirrors Sketches.qsketchQuantiles off the same cells: first cell
      // (by (e,m), respelled as the scalar e*32+m — unique since m < 32)
      // whose cumulative count reaches ceil(pct·n/100), cross-multiplied.
      """WITH v AS (SELECT doc_id % 8 AS grp, CAST(strlen(text) AS BIGINT) AS v
        |  FROM documents),
        |c AS (SELECT grp,
        |    CAST(CASE WHEN v = 0 THEN -1 ELSE length(bin(v)) - 1 END AS BIGINT) AS e,
        |    CAST(v >> greatest(CASE WHEN v = 0 THEN -1 ELSE length(bin(v)) - 1 END - 4, 0) AS BIGINT) AS m,
        |    count(*) AS cnt
        |  FROM v GROUP BY 1, 2, 3),
        |w AS (SELECT grp, e, m,
        |    sum(cnt) OVER (PARTITION BY grp ORDER BY e, m) AS cum,
        |    sum(cnt) OVER (PARTITION BY grp) AS n
        |  FROM c),
        |q AS (SELECT grp, pct, max(n) AS n,
        |    min_by(e, e * 32 + m) AS qe, min_by(m, e * 32 + m) AS qm
        |  FROM w, unnest([50, 90, 99]) t(pct)
        |  WHERE cum * 100 >= pct * n
        |  GROUP BY 1, 2)
        |SELECT grp, CAST(pct AS BIGINT) AS pct, CAST(n AS BIGINT) AS n,
        |  CAST(qm << greatest(qe - 4, 0) AS BIGINT) AS est,
        |  CAST(1 << greatest(qe - 4, 0) AS BIGINT) AS width
        |FROM q ORDER BY grp, pct""".stripMargin),

    // X178 weighted read: byte-length quantiles weighted by characters
    // contributed — one huge doc outweighs a thousand stubs, the
    // curation view; cnt = Σ n_chars per cell, read side unchanged.
    QuerySpec("q211_qsketch_weighted", ((s, d) =>
      Sketches.qsketchQuantiles(
          Sketches.qsketchCellsWeighted(
            Tables.documents(s, d).select((col("doc_id") % 4).as("grp"),
              octet_length(col("text")).cast("long").as("v"),
              col("n_chars").cast("long").as("w")),
            "grp", col("v"), col("w"), subBits = 4),
          "grp", Seq(50, 90, 99), subBits = 4)
        .orderBy(col("grp"), col("pct"))),
      // q210's pipeline with cnt = sum(n_chars) instead of count(*).
      """WITH v AS (SELECT doc_id % 4 AS grp, CAST(strlen(text) AS BIGINT) AS v,
        |    CAST(n_chars AS BIGINT) AS w
        |  FROM documents),
        |c AS (SELECT grp,
        |    CAST(CASE WHEN v = 0 THEN -1 ELSE length(bin(v)) - 1 END AS BIGINT) AS e,
        |    CAST(v >> greatest(CASE WHEN v = 0 THEN -1 ELSE length(bin(v)) - 1 END - 4, 0) AS BIGINT) AS m,
        |    sum(w) AS cnt
        |  FROM v GROUP BY 1, 2, 3),
        |w AS (SELECT grp, e, m,
        |    sum(cnt) OVER (PARTITION BY grp ORDER BY e, m) AS cum,
        |    sum(cnt) OVER (PARTITION BY grp) AS n
        |  FROM c),
        |q AS (SELECT grp, pct, max(n) AS n,
        |    min_by(e, e * 32 + m) AS qe, min_by(m, e * 32 + m) AS qm
        |  FROM w, unnest([50, 90, 99]) t(pct)
        |  WHERE cum * 100 >= pct * n
        |  GROUP BY 1, 2)
        |SELECT grp, CAST(pct AS BIGINT) AS pct, CAST(n AS BIGINT) AS n,
        |  CAST(qm << greatest(qe - 4, 0) AS BIGINT) AS est,
        |  CAST(1 << greatest(qe - 4, 0) AS BIGINT) AS width
        |FROM q ORDER BY grp, pct""".stripMargin),

    // Matryoshka width sweep: recall@3 of truncated-cosine top-k at
    // widths 8/16/32/64 vs the full 64-dim truth — the storage-vs-
    // recall pricing table, one corpus×queries pass for all widths.
    QuerySpec("q225_matryoshka", ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.matryoshkaRecall(e, e.filter(col("vec_id") < 20),
          "vec_id", "embedding", 3, Seq(8, 16, 32, 64))
        .orderBy(col("dims"))
    }),
      // Mirrors Similarity.matryoshkaRecall: truncated-cosine top-3 per
      // width vs the full-width truth, micro-averaged per width.
      {
        val per = Seq(8, 16, 32, 64).map { d =>
          s"""SELECT CAST($d AS BIGINT) AS dims, query_id, neighbor_id FROM (
             |  SELECT query_id, neighbor_id, ROW_NUMBER() OVER (PARTITION BY query_id
             |    ORDER BY ${cosSqlD("qe", "ce", d)} DESC, neighbor_id ASC) AS rnk FROM pr)
             |  WHERE rnk <= 3""".stripMargin
        }.mkString("\n  UNION ALL\n")
        s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 20),
           |c AS (SELECT vec_id AS neighbor_id, embedding AS ce FROM embeddings),
           |pr AS (SELECT query_id, neighbor_id, qe, ce FROM q, c WHERE neighbor_id <> query_id),
           |tr AS (SELECT query_id, neighbor_id FROM (
           |  SELECT query_id, neighbor_id, ROW_NUMBER() OVER (PARTITION BY query_id
           |    ORDER BY ${cosSqlD("qe", "ce", 64)} DESC, neighbor_id ASC) AS rnk FROM pr)
           |  WHERE rnk <= 3),
           |ap AS ($per),
           |ht AS (SELECT dims, CAST(count(*) AS BIGINT) AS n_hit
           |  FROM ap JOIN tr USING (query_id, neighbor_id) GROUP BY 1),
           |dn AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM tr),
           |dm AS (SELECT CAST(unnest([8, 16, 32, 64]) AS BIGINT) AS dims)
           |SELECT dm.dims, dn.n_truth,
           |  CAST(COALESCE(ht.n_hit, 0) AS BIGINT) AS n_hit,
           |  CAST(CASE WHEN dn.n_truth = 0 THEN 0
           |       ELSE COALESCE(ht.n_hit, 0) * 1000000 // dn.n_truth END AS BIGINT)
           |    AS recall_ppm
           |FROM dm CROSS JOIN dn LEFT JOIN ht ON ht.dims = dm.dims
           |ORDER BY dm.dims""".stripMargin
      }),

    // The X193 incremental composition as two id-ordered arrivals
    // (originals, then the +10000 clones): the union of the two steps'
    // pair sets must equal the UNCAPPED one-shot enumeration (the step
    // is cap-free; the cap belongs at index compaction, not the probe).
    QuerySpec("q227_neardup_inc", ((s, d) => {
      val corpus = embCorpus(s, d)
      val s1 = Similarity.nearDupStep(corpus.filter(col("vec_id") < 10000),
        Similarity.emptyNearDupIndex(s), "vec_id", "embedding", 0.99)
      val s2 = Similarity.nearDupStep(corpus.filter(col("vec_id") >= 10000),
        s1.index, "vec_id", "embedding", 0.99)
      s1.pairs.unionByName(s2.pairs).orderBy(col("id_a"), col("id_b"))
    }),
      // The incremental composition must land exactly on the UNCAPPED
      // one-shot pair set — the step is cap-free by design, so its
      // oracle must be too (scale-robust even when a bucket exceeds the
      // one-shot path's bucketCap).
      nearDupSqlUncapped),

    // X218 exact heavy hitters by corpus share: a Misra–Gries
    // bounded-state candidate pass then an exact broadcast recount —
    // the shaped value plants 5 hot keys (~10% of rows) over the
    // |parts| light tail; the share-relative threshold (0.5%) keeps
    // the MG no-false-negative guarantee valid at every sf.
    QuerySpec("q253_heavy_hitters", ((s, d) =>
      Sketches.heavyHittersByShare(
        Tables.lineitem(s, d).select(
          when(col("l_orderkey") % 100 < 10,
            concat(lit("hot_"), (col("l_orderkey") % 5).cast("string")))
            .otherwise(concat(lit("part_"), col("l_partkey").cast("string")))
            .as("item")),
        col("item"), k = 256, sharePpm = 5000L)
        .orderBy(col("item"))),
      // Exact heavy hitters: the oracle is the full groupBy-HAVING the
      // operator's two-pass MG-candidates+recount provably equals (the
      // sharePpm·(k+1) > 1e6 guarantee makes false negatives impossible,
      // and the exact recount removes false positives).
      """WITH v AS (SELECT CASE WHEN l_orderkey % 100 < 10
        |      THEN 'hot_' || CAST(l_orderkey % 5 AS VARCHAR)
        |      ELSE 'part_' || CAST(l_partkey AS VARCHAR) END AS item FROM lineitem),
        |n AS (SELECT count(*) AS n FROM v)
        |SELECT item, CAST(count(*) AS BIGINT) AS cnt
        |FROM v, n GROUP BY item, n.n
        |HAVING count(*) * 1000000 >= 5000 * n.n
        |ORDER BY item""".stripMargin),

    // X221 weighted exact heavy hitters: same shaped domain but items
    // weigh by quantity — "which domains hold >= 0.5% of total weight"
    // through the weighted MG candidate pass + exact weighted recount.
    QuerySpec("q256_heavy_weight", ((s, d) =>
      Sketches.heavyHittersByWeightShare(
        Tables.lineitem(s, d).select(
          when(col("l_orderkey") % 100 < 10,
            concat(lit("hot_"), (col("l_orderkey") % 5).cast("string")))
            .otherwise(concat(lit("part_"), col("l_partkey").cast("string")))
            .as("item"),
          col("l_quantity").cast("long").as("wt")),
        col("item"), col("wt"), k = 256, sharePpm = 5000L)
        .orderBy(col("item"))),
      // Weighted heavy hitters: the oracle is the weighted groupBy-HAVING
      // the weighted-MG two-pass provably equals (Berinde et al. carry
      // the W/(k+1) guarantee to weights; exact recount drops the rest).
      """WITH v AS (SELECT CASE WHEN l_orderkey % 100 < 10
        |      THEN 'hot_' || CAST(l_orderkey % 5 AS VARCHAR)
        |      ELSE 'part_' || CAST(l_partkey AS VARCHAR) END AS item,
        |    CAST(l_quantity AS BIGINT) AS wt FROM lineitem),
        |t AS (SELECT sum(wt) AS w FROM v)
        |SELECT item, CAST(sum(wt) AS BIGINT) AS w
        |FROM v, t GROUP BY item, t.w
        |HAVING sum(wt) * 1000000 >= 5000 * t.w
        |ORDER BY item""".stripMargin),

    // HLL set-overlap matrix: user-base overlap between event types
    // from the sketches alone — union by per-bucket register max,
    // intersection/Jaccard by inclusion-exclusion.
    QuerySpec("q230_hll_overlap", ((s, d) =>
      Sketches.hllOverlap(
          Sketches.hllRegisters(Tables.events(s, d), "event_type",
            col("user_id").cast("string"), p = 6),
          "event_type", p = 6)
        .orderBy(col("g_a"), col("g_b"))),
      // Mirrors Sketches.hllOverlap over the q88 registers: per-bucket
      // max union, the same integer harmonic estimate, clamped
      // inclusion-exclusion.
      {
        val vh = dh("CAST(user_id AS VARCHAR)")
        s"""WITH h0 AS (SELECT event_type, $vh AS h FROM events),
           |mx AS (SELECT event_type,
           |    ((48271 * ((h * h) % 1000000007)) % 1000000007
           |     + (16807 * h) % 1000000007) % 1000000007 AS m FROM h0),
           |b AS (SELECT event_type, m % 64 AS bucket, m // 64 AS r FROM mx),
           |rho AS (SELECT event_type, bucket,
           |    CASE WHEN r = 0 THEN 30
           |         ELSE least(30, bit_count((r & -r) - 1) + 1) END AS rho
           |  FROM b),
           |regs AS (SELECT event_type AS g, bucket, max(rho) AS register
           |  FROM rho GROUP BY 1, 2),
           |est AS (SELECT g, CAST((709 * 64 * 64 * CAST(1073741824 AS BIGINT)) //
           |    (1000 * (SUM(CAST(1 AS BIGINT) << (30 - register))
           |             + (64 - count(*)) * CAST(1073741824 AS BIGINT)))
           |    AS BIGINT) AS est FROM regs GROUP BY g),
           |pr AS (SELECT a.g AS g_a, b.g AS g_b
           |  FROM (SELECT DISTINCT g FROM regs) a, (SELECT DISTINCT g FROM regs) b
           |  WHERE a.g < b.g),
           |ur AS (SELECT g_a, g_b, bucket, max(register) AS register FROM (
           |  SELECT pr.g_a, pr.g_b, regs.bucket, regs.register
           |    FROM pr JOIN regs ON regs.g = pr.g_a
           |  UNION ALL
           |  SELECT pr.g_a, pr.g_b, regs.bucket, regs.register
           |    FROM pr JOIN regs ON regs.g = pr.g_b)
           |  GROUP BY 1, 2, 3),
           |ue AS (SELECT g_a, g_b, CAST((709 * 64 * 64 * CAST(1073741824 AS BIGINT)) //
           |    (1000 * (SUM(CAST(1 AS BIGINT) << (30 - register))
           |             + (64 - count(*)) * CAST(1073741824 AS BIGINT)))
           |    AS BIGINT) AS est_union FROM ur GROUP BY 1, 2)
           |SELECT ue.g_a, ue.g_b, ea.est AS est_a, eb.est AS est_b, ue.est_union,
           |  greatest(0, ea.est + eb.est - ue.est_union) AS est_intersect,
           |  CAST(CASE WHEN ue.est_union = 0 THEN 0
           |       ELSE greatest(0, ea.est + eb.est - ue.est_union) * 1000000 // ue.est_union
           |       END AS BIGINT) AS jaccard_est_ppm
           |FROM ue JOIN est ea ON ea.g = ue.g_a JOIN est eb ON eb.g = ue.g_b
           |ORDER BY ue.g_a, ue.g_b""".stripMargin
      }),

    // Measured Bloom FPR: 1500 customer keys in a 4 Kibit bitmap (k=2),
    // probed with order keys known absent by hash — the load factor and
    // false-positive rate the theoretical curve only approximates.
    QuerySpec("q229_bloom_fpr", ((s, d) =>
      graft.ops.BloomPrune.fprReport(Tables.customer(s, d), Tables.orders(s, d),
        col("c_custkey").cast("string"), col("o_orderkey").cast("string"),
        4096, 2)),
      // Mirrors BloomPrune.fprReport: same polynomial hash, same affine
      // position family (2j+3)·h+(5j+7) mod P mod m, absent-by-hash
      // probes, exact bit membership.
      s"""WITH kh AS (SELECT DISTINCT ${dh("(c_custkey::VARCHAR)")} AS h FROM customer),
         |pos AS (SELECT DISTINCT ((h * (2*j+3) + (5*j+7)) % 1000000007) % 4096 AS p
         |  FROM kh, range(0, 2) t(j)),
         |phh AS (SELECT DISTINCT ${dh("(o_orderkey::VARCHAR)")} AS h FROM orders),
         |neg AS (SELECT h FROM phh WHERE h NOT IN (SELECT h FROM kh)),
         |fpf AS (SELECT h, (SELECT count(*) FROM range(0, 2) t(j)
         |    WHERE ((h * (2*j+3) + (5*j+7)) % 1000000007) % 4096 IN (SELECT p FROM pos))
         |    AS hits FROM neg)
         |SELECT CAST(4096 AS BIGINT) AS m_bits, CAST(2 AS BIGINT) AS k_hashes,
         |  (SELECT CAST(count(*) AS BIGINT) FROM kh) AS n_keys,
         |  (SELECT CAST(count(*) AS BIGINT) FROM pos) AS bits_set,
         |  CAST(count(*) AS BIGINT) AS n_probes,
         |  CAST(SUM(CASE WHEN hits = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_fp,
         |  CAST(CASE WHEN count(*) = 0 THEN 0
         |       ELSE SUM(CASE WHEN hits = 2 THEN 1 ELSE 0 END) * 1000000 // count(*)
         |       END AS BIGINT) AS fpr_ppm
         |FROM fpf""".stripMargin),
  )
}
