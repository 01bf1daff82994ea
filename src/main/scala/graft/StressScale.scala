package graft

import org.apache.spark.sql.functions._

/** Dev-only scale stress for the two iterative operators (VERDICT r6
  * task 8): synthesizes worst-case graphs far larger than sf0.1's and
  * reports the two numbers that matter for 100 TB viability — driver
  * round-trips (the structural cost) and wall seconds (the local one).
  *
  *  - ConnectedComponents on a CHAIN of n nodes — the pathological
  *    diameter-n case. Hop-only label propagation needs n rounds;
  *    hop+pointer-doubling must stay ≤ ⌈log₂ n⌉ + c as n grows 100×.
  *  - TreeExplode on a forest of k independent chains of depth d —
  *    holds depth (round count) fixed while scaling per-level volume.
  *
  * Synthetic `spark.range` inputs only (no testdata writes); results are
  * recorded in BASELINE.md, clearly marked self-measured.
  *
  * Usage: runMain graft.StressScale [maxChainExp]
  */
object StressScale {
  def main(args: Array[String]): Unit = {
    val maxExp = if (args.nonEmpty) args(0).toInt else 6 // up to 10^6
    val spark = RunnerSession.create()
    import spark.implicits._

    // Per-probe selection: SPARK_GRAFT_STRESS_ONLY=name1,name2 runs just
    // those probes, so a fresh JVM measures ONE operator instead of its
    // neighbors' block-store pressure (the r9 isolation lesson). Names:
    // cc, tree, dedup, power, dims, bpe, packing, qsketch, compaction.
    // Unset = run everything (the full-table run).
    val only = sys.env.get("SPARK_GRAFT_STRESS_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    def want(name: String): Boolean = only.forall(_.contains(name))

    if (want("cc")) (4 to maxExp).foreach { exp =>
      val n = math.pow(10, exp).toLong
      val chain = spark.range(n - 1).select(col("id").as("a"), (col("id") + 1).as("b"))
      val t0 = System.nanoTime()
      val (lbl, rounds) = ops.ConnectedComponents.labelsWithRounds(chain, maxIters = 64, localThreshold = 0)
      val nodes = lbl.count()
      val secs = (System.nanoTime() - t0) / 1e9
      val bound = (math.log(n.toDouble) / math.log(2)).ceil.toInt + 2
      println(f"[stress] cc_chain n=$n nodes=$nodes rounds=$rounds (log2-bound $bound) $secs%.1f s")
    }

    // 100k chains × depth 20: 2M (root,node) path rows, depth fixed.
    if (want("tree")) locally {
    val k = 100000L
    val d = 20
    val edges = spark.range(k * (d - 1)).select(
      col("id").as("parent"), (col("id") + k).as("child"), lit(1.0).as("coeff"))
    val roots = spark.range(k).select(col("id").as("root"))
    val t0 = System.nanoTime()
    val (paths, rounds) = ops.TreeExplode.explodeWithRounds(edges, roots, maxDepth = 32)
    val rows = paths.count()
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"[stress] tree_forest k=$k depth=$d rows=$rows rounds=$rounds $secs%.1f s")
    }

    // Dedup-family stress: 10 near-dup variants of every sf0.1 document
    // (each copy appends one distinct token — texts all DISTINCT, so the
    // representative collapse can't shortcut; shingles overlap heavily,
    // so candidate generation carries real load). ~50k docs ≈ 10× the
    // bench corpus; the claim under test is that candidate pairs stay
    // band-bucket-bounded, not all-pairs (50k² = 2.5G pairs would hang).
    val docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
      .select(col("doc_id"), col("text"))
    if (want("dedup")) locally {
    val variants = (0 until 10).map(i =>
      docs.select((col("doc_id") * 10 + i).as("doc_id"),
        concat(col("text"), lit(s" uniq$i")).as("text")))
      .reduce(_ unionByName _)
      .repartition(spark.sparkContext.defaultParallelism)
      .localCheckpoint()
    val nDocs = variants.count()
    val t1 = System.nanoTime()
    val mh = ops.TextDedup.minhashCandidates(variants, "doc_id", "text").count()
    val s1 = (System.nanoTime() - t1) / 1e9
    println(f"[stress] minhash_10x docs=$nDocs cand_pairs=$mh $s1%.1f s")
    val t2 = System.nanoTime()
    val nj = ops.TextDedup.ngramJaccardPairs(variants, "doc_id", "text",
      maxShingleDf = 1000L).count()
    val s2 = (System.nanoTime() - t2) / 1e9
    println(f"[stress] jaccard_10x docs=$nDocs pairs=$nj $s2%.1f s")
    // Incremental path: a 5k-doc "daily batch" against the 50k corpus —
    // candidate volume must scale with batch collisions, not corpus².
    val batch = docs.select((col("doc_id") + 1000000).as("doc_id"),
      concat(col("text"), lit(" uniqbatch")).as("text"))
    val t4 = System.nanoTime()
    val ni = ops.TextDedup.minhashCandidatesAgainst(batch, variants, "doc_id", "text").count()
    val s4 = (System.nanoTime() - t4) / 1e9
    println(f"[stress] incremental_batch5k_vs_50k cand_pairs=$ni $s4%.1f s")
    // Full step against a PREBUILT (persisted-index reality) band table:
    // cross + within-batch pairs + index growth in one call.
    val idx = ops.TextDedup.corpusBandIndex(variants, "doc_id", "text").localCheckpoint()
    val t6 = System.nanoTime()
    val step = ops.TextDedup.incrementalDedupStep(batch, idx, "doc_id", "text")
    val np6 = step.pairs.count()
    val nidx = step.index.count()
    val s6 = (System.nanoTime() - t6) / 1e9
    println(f"[stress] incremental_full_step pairs=$np6 index_rows=$nidx $s6%.1f s")
    // Candidate-volume diagnostic: pair rows a shingle-equality join
    // emits = Σ_shingle (df of side A × df of side B) — computable by
    // aggregation alone. Four numbers, most→least naive: full sets
    // self-joined (r6), basic prefixes self-joined (r7), PPJoin's
    // asymmetric basic×mid prefixes (r8 join fan-out), and the DISTINCT
    // candidate pairs that survive the length + positional filters (what
    // actually reaches exact verification). Texts here are all distinct,
    // so the representative collapse is identity.
    locally {
      import org.apache.spark.sql.expressions.Window
      import graft.functions.TextFeatures._
      val t = 0.5
      val sh = variants
        .withColumn("__toks", tokens(col("text")))
        .filter(size(col("__toks")) >= 3)
        .select(col("doc_id").as("id"),
          explode(array_distinct(transform(shingles(col("__toks"), 3),
            s => charHash(s)))).as("shingle"))
        .localCheckpoint()
      val dfAll = sh.groupBy("shingle").agg(count(lit(1)).as("__df"))
        .filter(col("__df") <= 1000L).localCheckpoint()
      val sh2 = sh.join(dfAll.select("shingle"), Seq("shingle")).localCheckpoint()
      val fullRows = dfAll.agg(sum(col("__df") * col("__df"))).head.getLong(0)
      val pref = sh2.join(dfAll, Seq("shingle"))
        .withColumn("__pos", row_number().over(
          Window.partitionBy("id").orderBy(col("__df"), col("shingle"))))
        .withColumn("__n", count(lit(1)).over(Window.partitionBy("id")))
        .localCheckpoint()
      val basic = pref.filter(col("__pos") <= col("__n") - ceil(col("__n") * t - 1e-9) + 1)
      val mid = basic.filter(col("__pos") <=
        col("__n") - ceil(col("__n") * (2 * t / (1 + t)) - 1e-9) + 1)
      val pdf = basic.groupBy("shingle").agg(count(lit(1)).as("pdf"))
      val mdf = mid.groupBy("shingle").agg(count(lit(1)).as("mdf"))
      val prefRows = pdf.agg(sum(col("pdf") * col("pdf"))).head.getLong(0)
      val ppRows = pdf.join(mdf, Seq("shingle"))
        .agg(sum(col("pdf") * col("mdf"))).head.getLong(0)
      val sizes = sh2.groupBy("id").agg(count(lit(1)).as("n"))
      val survivors = ops.TextDedup.ppjoinCandidates(sh2, sizes, t).count()
      println(s"[stress] jaccard_diag full_join_rows=$fullRows " +
        s"prefix_join_rows=$prefRows ppjoin_join_rows=$ppRows " +
        s"cand_pairs_after_filters=$survivors")
    }
    }

    // Power-iteration stress: 1M synthetic 64-dim embeddings, 2 rounds —
    // per-round driver state is 64 values regardless of row count.
    if (want("power")) locally {
    val t5 = System.nanoTime()
    val emb = spark.range(1000000L).select(col("id").as("vec_id"),
      transform(sequence(lit(1), lit(64)),
        j => ((col("id") * j % 1997) - 998).cast("float") / 1000f).as("embedding"))
    val ns = ops.Spectral.topComponentScores(emb, "vec_id", "embedding", 2).count()
    val s5 = (System.nanoTime() - t5) / 1e9
    println(f"[stress] power_iter_1m rows=$ns $s5%.1f s")
    }

    // Dims-axis stress (VERDICT r7): the one untested scale dimension.
    // Spectral emits one aggregate COLUMN per dimension — at 1024 dims
    // that is a 1024-column aggregate whose codegen behavior must be
    // measured, not assumed. Clustering (posexplode keyed (cid,pos))
    // and Similarity (single fold expression) are dims-agnostic by
    // construction but get timed at the same points for the record.
    if (want("dims")) Seq(64, 256, 1024).foreach { dims =>
      val rows = if (dims >= 1024) 50000L else 200000L
      val embD = spark.range(rows).select(col("id").as("vec_id"),
          transform(sequence(lit(1), lit(dims)),
            // divide as double, store as FLOAT (a float/float division
            // promotes to double and would silently make array<double>)
            j => (((col("id") * j % 1997) - 998).cast("double") / 1000d)
              .cast("float")).as("embedding"))
        .localCheckpoint() // isolate generation cost from operator cost
      val tp = System.nanoTime()
      val np2 = ops.Spectral.topComponentScores(embD, "vec_id", "embedding", 2).count()
      println(f"[stress] power_iter dims=$dims rows=$np2 ${(System.nanoTime() - tp) / 1e9}%.1f s")
      val tk = System.nanoTime()
      val nk = ops.Clustering.lloydAssign(embD, "vec_id", "embedding", 8, 2).count()
      println(f"[stress] kmeans dims=$dims rows=$nk ${(System.nanoTime() - tk) / 1e9}%.1f s")
      val tq = System.nanoTime()
      val nq = ops.Similarity.bruteForceTopK(embD,
        embD.filter(col("vec_id") < 16), "vec_id", "embedding", 10).count()
      println(f"[stress] knn_brute dims=$dims rows=$nq ${(System.nanoTime() - tq) / 1e9}%.1f s")
    }

    // BPE batched-merge stress (VERDICT r8 task 3): 256 merges over the
    // sf0.1 corpus must cost a handful of driver round-trips, not 256
    // sequential jobs — the batch acceptance rule does the collapsing.
    if (want("bpe")) locally {
      val t = System.nanoTime()
      val (table, trips) = ops.BpeTrainer.trainMergesWithRounds(
        docs, "text", rounds = 256, batchK = 64)
      val n = table.count()
      val s = (System.nanoTime() - t) / 1e9
      println(f"[stress] bpe_256merges merges=$n driver_round_trips=$trips $s%.1f s")
    }

    // Sequence-packing stress: 5M docs / 2.75G tokens through the
    // two-pass distributed prefix sum — the path a single-partition
    // window could not survive.
    if (want("packing")) locally {
    val t3 = System.nanoTime()
    val np = ops.Packing.packSequences(
      spark.range(5000000L).select(col("id").as("doc_id"),
        ((col("id") % 900) + 100).as("tok")),
      "doc_id", col("tok"), 4096L).count()
    val s3 = (System.nanoTime() - t3) / 1e9
    println(f"[stress] packing_5m rows=$np $s3%.1f s")
    }

    // Quantile-sketch stress: 50M values spanning ~40 binary exponents
    // into 4 groups — the sketch's claim is that cell count stays at
    // the ~1k-per-group bound no matter the row volume (50M rows here;
    // the same bound at 100 TB), with the whole build one map-side-
    // combinable aggregate.
    if (want("qsketch")) locally {
      val t = System.nanoTime()
      val vals = spark.range(50000000L).select((col("id") % 4).as("g"),
        ((col("id") * 2654435761L).bitwiseAND(lit((1L << 40) - 1))).as("v"))
      val cells = ops.Sketches.qsketchCells(vals, "g", col("v")).localCheckpoint()
      val nCells = cells.count()
      val sB = (System.nanoTime() - t) / 1e9
      val tQ = System.nanoTime()
      val nQ = ops.Sketches.qsketchQuantiles(cells, "g", Seq(50, 90, 99)).count()
      val sQ = (System.nanoTime() - tQ) / 1e9
      val bound = 4 * (1 + 16 + 16 * 37) // groups × (zero + exact + 16/exponent)
      println(f"[stress] qsketch_50m cells=$nCells (bound $bound) build $sB%.1f s " +
        f"quantile_rows=$nQ read $sQ%.1f s")
    }

    // Decade probe (VERDICT r9 task 5): the bounded-state family at
    // 10^9 rows — one decade past the 50M qsketch probe, generated as
    // ten lazy 10^8-row batches unioned (the container cannot HOLD a
    // 10^9-row corpus; the sketches never need it held — each family
    // is one map-side-combinable pass whose partials are the state
    // bound). Values are distinct by construction (odd-multiplier
    // bijection mod 2^44), so the true cardinality is known exactly
    // and the state-vs-bound claim is checkable. KMV's bottom-k runs
    // the two-level merge path (per-bucket bottom-k partials, then the
    // final fold over 65k survivor rows) — the shard-merge shape, not
    // a 4-task window over 10^9 rows.
    if (want("decade")) locally {
      import org.apache.spark.sql.expressions.Window
      val batchRows = 100000000L
      val big = (0 until 10).map(b => spark.range(batchRows).select(
          (col("id") % 4).as("g"),
          (((col("id") + lit(b * batchRows)) * 2654435761L)
            .bitwiseAND(lit((1L << 44) - 1))).as("v")))
        .reduce(_ unionByName _)
      def timed[A](name: String)(body: => A): A = {
        val t = System.nanoTime()
        val r = body
        println(f"[stress] decade_$name ${(System.nanoTime() - t) / 1e9}%.1f s")
        r
      }
      timed("qsketch_1e9") {
        val cells = ops.Sketches.qsketchCells(big, "g", col("v")).localCheckpoint()
        val n = cells.count()
        val tot = cells.agg(sum(col("cnt"))).head.getLong(0)
        val bound = 4 * (1 + 16 + 16 * 40) // groups x (zero + exact + 16/exponent to 2^44)
        println(s"[stress] decade_qsketch cells=$n (bound $bound) mass=$tot")
      }
      timed("hll_1e9") {
        val regs = ops.Sketches.hllRegisters(big, "g",
          col("v").cast("string"), p = 6).localCheckpoint()
        val n = regs.count()
        val est = ops.Sketches.hllEstimate(regs, "g")
          .agg(sum(col("est"))).head.getLong(0)
        println(s"[stress] decade_hll registers=$n (bound ${4 * 64}) " +
          s"est_total=$est true=1000000000 (hash space 1e9+7 saturates)")
      }
      timed("countmin_1e9") {
        val cm = ops.Sketches.countMinCellsOf(big.select(col("v")), col("v"))
          .localCheckpoint()
        val n = cm.count()
        val tot = cm.groupBy(col("j")).agg(sum(col("cnt")).as("s"))
          .agg(min(col("s"))).head.getLong(0)
        println(s"[stress] decade_countmin cells=$n (bound ${3 * 512}) row_mass=$tot")
      }
      timed("digest_1e9") {
        val dig = ops.Profiler.datasetDigest(big, col("v") % 64, Seq(col("v")))
          .localCheckpoint()
        val n = dig.count()
        val rows = dig.agg(sum(col("n_rows"))).head.getLong(0)
        println(s"[stress] decade_digest shards=$n (bound 64) rows=$rows")
      }
      timed("kmv_1e9") {
        import graft.functions.TextFeatures
        // level 1: per-(group, 256-bucket) bottom-64 — the mergeable
        // shard partial (raw hash carried; mix orders both levels)
        val hashed = big.select(col("g"),
          TextFeatures.charHash(col("v").cast("string")).as("__h"))
        val lvl1 = hashed
          .withColumn("__b", col("__h") % 256)
          .withColumn("__rnk", row_number().over(
            Window.partitionBy(col("g"), col("__b"))
              .orderBy(ops.Sketches.mix(col("__h")).asc)))
          .filter(col("__rnk") <= 64)
          .select(col("g"), col("__h"))
        val est = ops.Sketches.kmvFromHashed(lvl1.distinct(), "g", "__h", k = 64)
          .agg(sum(col("kmv_est"))).head.getLong(0)
        println(s"[stress] decade_kmv survivors<=${4 * 256 * 64} est_total=$est " +
          "(bottom-64 state per group; hash space 1e9+7 saturates at this n)")
      }
      timed("mg_1e9") {
        // X218's candidate pass at 10^9 rows: 7 planted heavy keys
        // (~1.43% of rows each, via CRT on the bijective v) over a
        // ~10^8-distinct tail. State is ONE <= k-entry summary per
        // partition — the groupBy alternative would shuffle every
        // distinct tail key. Each hot share 1.43% > 1/(k+1) = 0.78%,
        // so the MG guarantee REQUIRES all 7 to survive any order.
        val shaped = big.select(
          when(col("v") % 10 === 0,
            concat(lit("hot_"), (col("v") % 7).cast("string")))
            .otherwise(col("v").cast("string")).as("item"))
        val row = shaped.agg(expr("graft_mg(item, 127)").as("s")).head()
        val items = row.getSeq[org.apache.spark.sql.Row](0).map(_.getString(0))
        val hotKept = (0 until 7).count(i => items.contains(s"hot_$i"))
        println(s"[stress] decade_mg summary=${items.size} (bound 127) " +
          s"hot_kept=$hotKept/7 (guarantee demands 7/7)")
      }
    }

    // Index-compaction stress (VERDICT r9 task 2): 20 arrival batches
    // of 20k embeddings each, heavily clustered (64 distinct sign
    // patterns), grown through nearDupStep. Uncompacted the banded
    // index grows linearly forever (batches·20k·bands rows); with a
    // per-cycle compactBandedIndex(maxBucket=64) the persisted state
    // must stay bounded by |buckets|·cap — the number that decides
    // whether a year of daily arrivals is storable.
    if (want("compaction")) locally {
      val batchRows = 20000L
      val dims = 16
      def batchDf(b: Int) = spark.range(batchRows)
        .select((col("id") + b * batchRows).as("vec_id"),
          transform(sequence(lit(1), lit(dims)), j =>
            when(((col("id") + b * batchRows) * 37 + j * 13) % 64 < 32,
              lit(1f)).otherwise(lit(-1f))).as("embedding"))
      val t = System.nanoTime()
      var idx = ops.Similarity.emptyNearDupIndex(spark)
      var idxC = ops.Similarity.emptyNearDupIndex(spark)
      (0 until 20).foreach { b =>
        val batch = batchDf(b).localCheckpoint()
        idx = ops.Similarity.nearDupStep(batch, idx, "vec_id", "embedding",
          0.999, planes = 8, bands = 2).index.localCheckpoint()
        idxC = ops.TextDedup.compactBandedIndex(
          ops.Similarity.nearDupStep(batch, idxC, "vec_id", "embedding",
            0.999, planes = 8, bands = 2).index, maxBucket = 64)
          .localCheckpoint()
      }
      val nFull = idx.count()
      val nComp = idxC.count()
      val s = (System.nanoTime() - t) / 1e9
      println(f"[stress] index_compaction batches=20 rows_per_batch=$batchRows " +
        f"full_index=$nFull compacted_index=$nComp $s%.1f s")
    }
    spark.stop()
  }
}
