package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev-only golden run at sf1-equivalent volume (VERDICT r7 task 8):
  * the driver ships sf0.001/0.01/0.1 only, so this synthesizes a 10×
  * corpus from sf0.1 — ten FK-CONSISTENT shifted copies (every key
  * column in copy i moves by i·offset, so joins stay valid within a
  * copy and never cross copies) — runs EVERY SparkEntry query against
  * it, and diffs the final (post-AQE) join-operator histogram against
  * the same query at sf0.1. The point is not the wall numbers (those
  * are recorded anyway) but the PLAN FLIPS: a dimension frame crossing
  * spark.sql.autoBroadcastJoinThreshold between scales is exactly the
  * class of size-dependent regression sf0.1 cannot see.
  *
  * region/nation stay unscaled (TPC-H semantics: fixed dimensions).
  * Output lands under /tmp (testdata is read-only); results are
  * recorded in BASELINE.md, clearly self-measured.
  *
  * Usage: runMain graft.GoldenScale [outDir] [copies]
  */
object GoldenScale {

  /** key-column shifts per table; copy i adds i·shift to each column */
  private val KeyShifts: Map[String, Map[String, Long]] = Map(
    "region" -> Map.empty, // unscaled
    "nation" -> Map.empty, // unscaled
    "customer" -> Map("c_custkey" -> 1000000L),
    "supplier" -> Map("s_suppkey" -> 1000000L),
    "part" -> Map("p_partkey" -> 1000000L),
    "orders" -> Map("o_orderkey" -> 10000000L, "o_custkey" -> 1000000L),
    "lineitem" -> Map("l_orderkey" -> 10000000L, "l_partkey" -> 1000000L,
      "l_suppkey" -> 1000000L),
    "events" -> Map("event_id" -> 10000000L, "user_id" -> 1000000L),
    "documents" -> Map("doc_id" -> 1000000L),
    "embeddings" -> Map("vec_id" -> 1000000L))

  def buildScaled(spark: SparkSession, srcDir: String, outDir: String,
                  copies: Int): Unit = {
    KeyShifts.foreach { case (table, shifts) =>
      val src = spark.read.parquet(s"$srcDir/$table.parquet")
      val scaled =
        if (shifts.isEmpty) src
        else (0 until copies).map { i =>
          shifts.foldLeft(src) { case (df, (k, off)) =>
            df.withColumn(k, col(k) + lit(i * off))
          }
        }.reduce(_ unionByName _)
      scaled.write.mode("overwrite").parquet(s"$outDir/$table.parquet")
      println(s"[golden] built $table: ${spark.read.parquet(s"$outDir/$table.parquet").count()} rows")
    }
    // written LAST: its presence (with a matching copies value) is the
    // only thing that lets a later run skip the rebuild — an
    // interrupted or differently-parameterized build never passes
    java.nio.file.Files.write(java.nio.file.Paths.get(outDir, "_GOLDEN_META"),
      s"copies=$copies\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  private def upToDate(outDir: String, copies: Int): Boolean = {
    val meta = java.nio.file.Paths.get(outDir, "_GOLDEN_META")
    java.nio.file.Files.exists(meta) &&
      new String(java.nio.file.Files.readAllBytes(meta),
        java.nio.charset.StandardCharsets.UTF_8).trim == s"copies=$copies"
  }

  /** histogram of the plan features that flip with input size */
  private def joinShape(df: DataFrame): Map[String, Int] = {
    val plan = df.queryExecution.executedPlan.toString
    Seq("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
      "BroadcastNestedLoopJoin", "CartesianProduct")
      .map(op => op -> plan.sliding(op.length).count(_ == op)).toMap
      .filter(_._2 > 0)
  }

  def main(args: Array[String]): Unit = {
    val outDir = if (args.nonEmpty) args(0) else "/tmp/sf1"
    val copies = if (args.length > 1) args(1).toInt else 10
    val spark = RunnerSession.create()

    if (!upToDate(outDir, copies))
      buildScaled(spark, "/root/testdata/sf0.1", outDir, copies)

    // Subset filter: lets a long 10× sweep resume from where a previous
    // invocation stopped instead of re-running the whole map.
    val wanted = registry.Registry.wanted("SPARK_GRAFT_GOLDEN_ONLY")
    val names = SparkEntry.queries.keys.toSeq.sorted.filter(wanted)
    var failures = 0
    names.foreach { name =>
      spark.sparkContext.setJobDescription(s"golden:$name")
      registry.Memos.clearMemos()
      val fn = SparkEntry.queries(name)
      // small-scale plan for the diff (cheap: sf0.1)
      val shapeSmall =
        try { val d = fn(spark, "/root/testdata/sf0.1"); d.count(); joinShape(d) }
        catch { case _: Throwable => Map.empty[String, Int] }
      registry.Memos.clearMemos()
      System.gc()
      val t0 = System.nanoTime()
      val res =
        try {
          val d = fn(spark, outDir)
          val n = d.count()
          Right((n, joinShape(d)))
        } catch { case e: Throwable => Left(e) }
      val secs = (System.nanoTime() - t0) / 1e9
      res match {
        case Right((n, shapeBig)) =>
          // flipping INTO a nested loop / cartesian at scale is a
          // failure, not a curiosity — a broadcast→shuffle flip is AQE
          // doing its job and only gets reported
          val intoNested = Seq("BroadcastNestedLoopJoin", "CartesianProduct")
            .exists(op => shapeBig.getOrElse(op, 0) > shapeSmall.getOrElse(op, 0))
          if (intoNested) failures += 1
          val flip = if (shapeBig == shapeSmall) "" else
            s"${if (intoNested) " NESTED-LOOP-FLIP" else " PLAN-FLIP"} sf0.1=$shapeSmall sf1=$shapeBig"
          println(f"[golden] $name rows=$n $secs%.1f s$flip")
        case Left(e) =>
          failures += 1
          println(s"[golden] $name FAILED: ${e.getClass.getSimpleName}: " +
            s"${Option(e.getMessage).getOrElse("").take(200)}")
      }
    }
    // X16 bucketed-layout guard promoted to the golden sweep (VERDICT
    // r8 task 2): the co-located join must stay exchange-free on the
    // SCALED fact table, not just the spec's 1000-row fixture. Same
    // non-vacuous marker as TableStoreSpec ("Exchange hashpartitioning"
    // is how a shuffle prints; "ShuffleExchange" never appears).
    // runs in the full sweep, or selectably via GOLDEN_ONLY=bucketed
    if (wanted("bucketed")) {
      spark.sql("DROP TABLE IF EXISTS golden_bucket_a")
      spark.sql("DROP TABLE IF EXISTS golden_bucket_b")
      val li = spark.read.parquet(s"$outDir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
      val buckets = spark.sparkContext.defaultParallelism // the local core count
      li.write.mode("overwrite").bucketBy(buckets, "l_orderkey")
        .sortBy("l_orderkey").saveAsTable("golden_bucket_a")
      li.write.mode("overwrite").bucketBy(buckets, "l_orderkey")
        .sortBy("l_orderkey").saveAsTable("golden_bucket_b")
      val bcastKey = "spark.sql.autoBroadcastJoinThreshold"
      val old = spark.conf.get(bcastKey)
      spark.conf.set(bcastKey, "-1")
      try {
        val j = spark.table("golden_bucket_a").groupBy("l_orderkey")
          .agg(sum(col("l_quantity")).as("qa"))
          .join(spark.table("golden_bucket_b").groupBy("l_orderkey")
            .agg(sum(col("l_quantity")).as("qb")), Seq("l_orderkey"))
        val n = j.count()
        val plan = j.queryExecution.executedPlan.toString
        val shuffled = plan.contains("Exchange hashpartitioning")
        if (shuffled) failures += 1
        println(s"[golden] bucketed_join rows=$n zero_exchange=${!shuffled}")
      } finally spark.conf.set(bcastKey, old)
    }
    println(s"[golden] done: ${names.size - failures}/${names.size} queries green at 10x sf0.1")
    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
