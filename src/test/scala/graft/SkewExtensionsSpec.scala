package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.functions.TextFeatures
import graft.ops.{Quantize, Similarity, SkewJoin}

class SkewExtensionsSpec extends SparkSpec {
  import spark.implicits._

  test("salted join equals plain join, spread over salt buckets") {
    val facts = (1 to 1000).map(i => (if (i % 10 == 0) 1 else i, s"f$i"))
      .toDF("key", "payload") // key 1 is hot
    val dims = Seq((1, "hot"), (2, "cold"), (500, "mid")).toDF("key", "name")
    val plain = facts.join(dims, "key").select("key", "payload", "name")
      .as[(Int, String, String)].collect().toSet
    val salted = SkewJoin.saltedJoin(facts, dims, "key", 8,
        Seq(col("payload")))
      .select("key", "payload", "name")
      .as[(Int, String, String)].collect().toSet
    assert(salted == plain)
    // i=1 plus every multiple of 10 maps to the hot key
    assert(plain.count(_._1 == 1) == 101)
  }

  test("SparkSessionExtensions injects graft functions into SQL") {
    // force a NEW session over the same SparkContext: with an active
    // session, getOrCreate would return it unchanged. withExtensions is
    // the public injector hook (spark.sql.extensions is a STATIC conf —
    // settable only at context launch; in production it goes on
    // spark-submit, here the builder hook drives the same class).
    // Never stop() the new session — the context is shared.
    val prev = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .withExtensions(new graft.functions.GraftSparkExtensions())
        .getOrCreate()
      val row = s2.sql(
        """SELECT normalize_text('Código do Item') AS n,
          |       graft_polyhash('abc') AS h,
          |       graft_dot(array(CAST(0.5 AS FLOAT), CAST(0.25 AS FLOAT)),
          |                 array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT))) AS d
          |""".stripMargin).head()
      assert(row.getString(0) == "CODIGO_DO_ITEM")
      assert(row.getLong(1) == 96354L)
      assert(row.getDouble(2) == 1.0)
      // the remaining functions resolve in SQL too, each equal to the value
      // of the ops Column helper that calls it
      def floats(xs: Float*) = xs.map(x => s"CAST($x AS FLOAT)").mkString("array(", ", ", ")")
      val vecs = Seq((0L, Array(1f, -2f, 0.5f, 3f)), (1L, Array(-1f, 0f, 2f, 0.25f)),
        (2L, Array(0.5f, 0.75f, -1f, 1f))).toDF("vec_id", "embedding")
      val sql = s2.sql(
        s"""SELECT graft_simhash30(array('a', 'a', 'b', 'c')) AS sh,
           |       graft_minhash16(array(CAST(11 AS BIGINT), 7, 123456)) AS mh,
           |       graft_jlproject(${floats(1f, -2f, 0.5f, 3f)}, 4, 3) AS jl,
           |       graft_pqassign(${floats(0.5f, 0.75f, -1f, 1f)},
           |         ${floats(1f, -2f, 0.5f, 3f, -1f, 0f, 2f, 0.25f)}, 2, 2) AS pq
           |""".stripMargin).head()
      assert(sql.getLong(0) == Seq(Seq("a", "a", "b", "c")).toDF("t")
        .select(TextFeatures.simhash(col("t"), 30)).as[Long].head())
      assert(sql.getSeq[Long](1) == Seq(Seq(11L, 7L, 123456L)).toDF("h")
        .select(TextFeatures.minhashSignature(col("h"), 16)).as[Seq[Long]].head())
      assert(sql.getSeq[Long](2) == Similarity.randomProject(vecs.filter(col("vec_id") === 0),
        "vec_id", "embedding", 4, 3).orderBy("pos").select("proj").as[Long].collect().toSeq)
      assert(sql.getSeq[Int](3).map(_.toLong) == Quantize.pqCodes(vecs, "vec_id", "embedding",
        m = 2, ksub = 2).filter(col("vec_id") === 2).orderBy("sub").select("code")
        .as[Long].collect().toSeq)
    } finally {
      SparkSession.setActiveSession(prev)
      SparkSession.setDefaultSession(prev)
    }
  }
}
