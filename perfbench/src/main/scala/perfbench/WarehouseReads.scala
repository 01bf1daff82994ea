package perfbench


import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._

import graft.ops.TreeExplode
import graft.query.Queries
import graft.store.TableStore

/** `warehouse_reads`: one client runs a closed loop over the documented
  * query surface (`graft.query.Queries`) against the seeded history of
  * `etl_monthly` ([[Harness.HistoryMonths]] months): 60% `custoComposicao`
  * with the status join, 20% `historico`, 10% `estrutura` and 10%
  * `custoRolledUp`, interleaved in a fixed cycle of ten so every run
  * measures the same mix. Codes are Zipf-skewed over a seeded ranking,
  * so some keys repeat; the repeated share is reported. No writes. */
final class WarehouseReads(spark: SparkSession, run: Harness.Run) {
  import Harness._
  import WarehouseReads._

  /** The last month in the warehouse: the same history `etl_monthly`
    * loads its new month into. */
  private val month = HistoryMonths - 1

  def apply(): Outcome = {
    val model = timed("model")(new Sinapi(run.seed, month))
    var seedTrace: Tracer = null
    val passes = if (run.trace) 1 else SetupPasses
    val setups = (1 to passes).map { i =>
      val dir = run.work.resolve(s"warehouse$i")
      deleteTree(dir)
      seedTrace = new Tracer(run.trace, s"warehouse_reads-seed-${run.seed}")
      val (_, s) = time(Inputs.seed(spark, new TimingTableStore(spark, dir.toString, seedTrace), model, month))
      log(f"seeding pass $i: $s%.3f s")
      if (i > 1) deleteTree(run.work.resolve(s"warehouse${i - 1}"))
      s
    }
    val wh = run.work.resolve(s"warehouse$passes")
    val children = model.edges(month).groupBy(_.parent)
    val ops = timed("draw")(draw(model, children, new scala.util.Random(run.seed ^ 0x5EEDL), 4000))
    val bytesPerRow = timed("size") {
      val store = new TableStore(spark, wh.toString)
      Harness.dataFiles(wh).values.sum.toDouble /
        graft.model.Schemas.all.keys.map(t => store.read(t).count()).sum
    }

    // warm-up: plan and run each query shape before timing, as a
    // long-lived query service would have
    val plain = new TableStore(spark, wh.toString)
    val warm = timed("warm-up")(loop(plain,
      draw(model, children, new scala.util.Random(run.seed ^ 0x3A3AL), Mix.size), children, 0, None))
    val untraced = timed("measure")(loop(plain, ops, children, run.seconds, None))
    val all = untraced.latencies.values.flatten.toSeq
    val attempted = warm.attempted + untraced.attempted
    val failed = warm.failed + untraced.failed
    val e2e = Map(
      "setup_s" -> Stats.median(setups),
      "success_share" -> (attempted - failed).toDouble / attempted,
      "op_ms_p50" -> Stats.median(all),
      "ops_per_s" -> all.size / math.max(all.sum / 1000, 1e-9),
      "warehouse_bytes_per_row" -> bytesPerRow)
    val correct = warm.correct && untraced.correct && failed == 0
    if (!run.trace) Outcome(correct, attempted, failed, e2e)
    else {
      val trace = new Tracer(enabled = true, s"warehouse_reads-${run.seed}")
      val store = new TimingTableStore(spark, wh.toString, trace)
      val counters = new SparkCounters()
      spark.sparkContext.addSparkListener(counters)
      val probe = new Probe(spark, counters)
      val traced = loop(store, ops, children, run.seconds, Some((trace, probe)))
      org.apache.spark.ListenerDrain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(counters)
      probe.countRounds(plain)
      trace.write(run.work.resolve("trace"))
      seedTrace.write(run.work.resolve("trace-seed"))
      val tracedAll = traced.latencies.values.flatten.toSeq
      def p50(k: String) = Stats.median(untraced.latencies.getOrElse(k, Nil).toSeq)
      val layers = mutable.Map[String, Double](
        "query.lookup.ms_p50" -> p50(Lookup),
        "query.lookup.ms_p90" -> Stats.quantile(untraced.latencies.getOrElse(Lookup, Seq(0.0)).toSeq, 0.9),
        "query.history.ms_p50" -> p50(History),
        "query.tree.ms_p50" -> p50(Tree),
        "query.rollup.ms_p50" -> p50(Rollup),
        "query.repeated_key_share" -> untraced.repeatedShare,
        "query.lookup.files_read" -> Stats.median(probe.filesRead.toSeq),
        "query.lookup.rows_scanned_per_row" -> Stats.median(probe.rowsScannedPerRow.toSeq),
        "ops.tree_rounds" -> Stats.median(probe.treeRounds.toSeq),
        "ops.tree_jobs" -> Stats.median(probe.treeJobs.toSeq),
        "store.read_s" -> trace.seconds("store.read"),
        "store.read_calls" -> store.readCalls.get.toDouble,
        "store.overwrite_s" -> seedTrace.seconds("store.overwrite"),
        "store.files_written" -> Harness.dataFiles(wh).size.toDouble,
        "store.bytes_written" -> Harness.dataFiles(wh).values.sum.toDouble,
        "trace.overhead_s" -> (Stats.median(tracedAll) - Stats.median(all)) / 1000)
      Seq(Lookup, History, Tree, Rollup).foreach { k =>
        layers(s"query.$k.plan_ms") = Stats.median(probe.planMs.getOrElse(k, Nil).toSeq)
        layers(s"query.$k.exec_ms") = Stats.median(probe.execMs.getOrElse(k, Nil).toSeq)
      }
      layers ++= counters.metrics(traced.wallS, run.cores)
      Outcome(correct && traced.correct && traced.failed == 0, attempted + traced.attempted,
        failed + traced.failed, layers.toMap)
    }
  }

  /** Runs `ops` in order, one at a time, in whole cycles of the mix
    * until `seconds` have passed (at least one op); each answer is
    * checked against the model outside the timed call. */
  private def loop(store: TableStore, ops: Seq[Op], children: Map[Int, Seq[Edge]], seconds: Double,
                   traced: Option[(Tracer, Probe)]): Loop = {
    val latencies = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val seen = mutable.Set.empty[(String, Any)]
    var repeated = 0
    var attempted = 0
    var failed = 0
    var correct = true
    val opLog = new StringBuilder
    val t0 = System.nanoTime()
    val it = ops.iterator
    while (it.hasNext && (attempted == 0 || attempted % Mix.size != 0 ||
        (System.nanoTime() - t0) / 1e9 < seconds)) {
      val op = it.next()
      attempted += 1
      if (!seen.add((op.kind, op.key))) repeated += 1
      try {
        val (rows, s) = time(traced match {
          case None => query(store, op).collect()
          case Some((trace, probe)) => trace(s"query.${op.kind}")(probe(op, query(store, op)))
        })
        latencies.getOrElseUpdate(op.kind, mutable.ArrayBuffer.empty) += s * 1000
        opLog.append(f"${op.kind}\t${op.key}\t${s * 1000}%.3f\n")
        if (!op.expect(rows, children)) {
          correct = false
          System.err.println(s"[perfbench] warehouse_reads wrong answer for $op: ${rows.take(5).mkString(", ")}")
        }
      } catch {
        case e: Exception =>
          failed += 1
          run.recordFailure(op.toString, e)
      }
    }
    java.nio.file.Files.write(run.work.resolve("ops.tsv"), opLog.toString.getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
    Loop(attempted, failed, correct, (System.nanoTime() - t0) / 1e9,
      latencies.map { case (k, v) => k -> v.toSeq }.toMap, repeated.toDouble / math.max(1, attempted))
  }

  private def query(store: TableStore, op: Op): DataFrame = op match {
    case o: LookupOp =>
      Queries.custoComposicao(store, o.code, Sinapi.Ufs(o.uf), Sinapi.date(o.month), Sinapi.Regimes(o.regime)._3)
        .select("custo_total", "status")
    case o: HistoryOp =>
      Queries.historico(store, o.code, o.tipo).select("data_referencia", "tipo_manutencao")
    case o: TreeOp =>
      Queries.estrutura(store, o.code).select("node", "eff_coeff")
    case o: RollupOp =>
      Queries.custoRolledUp(store, o.code, Sinapi.Ufs(o.uf), Sinapi.date(month), Sinapi.Regimes(o.regime)._3)
  }

  /** Pre-draws `n` operations in the workload's cycle, each with the
    * answer the model gives. */
  private def draw(model: Sinapi, children: Map[Int, Seq[Edge]], rng: scala.util.Random, n: Int): Seq[Op] = {
    val comps = new Zipf(rng.shuffle(model.compActive(month)), rng)
    // Tree and roll-up cost grows with tree depth, so those draws take
    // the composition level from the cycle count: every run of the same
    // length sees the same depths, whatever the seed.
    val byLevel = model.compActive(month).groupBy(model.level).map { case (l, cs) => l -> new Zipf(rng.shuffle(cs), rng) }
    def deep(i: Int) = byLevel((i / Mix.size) % byLevel.size).next()
    val logged = new Zipf(rng.shuffle(model.events.map(e => (e.code, e.tipo)).distinct), rng)
    val v = model.values
    (0 until n).map { i =>
      val kind = Mix(i % Mix.size)
      if (kind == Lookup) {
        val (c, uf, m, r) = (comps.next(), rng.nextInt(Sinapi.Ufs.size), rng.nextInt(month + 1),
          rng.nextInt(Sinapi.Regimes.size))
        val cost = if (model.compActive(m).contains(c)) v.costCents(c, uf, r, m) else None
        LookupOp(c, uf, m, r, cost.map(BigDecimal(_, 2)))
      } else if (kind == History) {
        val (c, tipo) = logged.next()
        HistoryOp(c, tipo, model.events.filter(e => e.code == c && e.tipo == tipo)
          .sortBy(-_.month).map(e => (Sinapi.date(e.month), e.kind)))
      } else if (kind == Tree) {
        TreeOp(deep(i))
      } else {
        val (c, uf, r) = (deep(i), rng.nextInt(Sinapi.Ufs.size), rng.nextInt(Sinapi.Regimes.size))
        val parts = Sinapi.tree(c, children).toSeq.flatMap { case (node, eff) =>
          v.priceCents(node, uf, r, month).filter(_ => node < 100000).map(p => eff * BigDecimal(p, 2))
        }
        RollupOp(c, uf, r, if (parts.isEmpty) None else Some(parts.sum))
      }
    }
  }
}

object WarehouseReads {
  val Lookup = "lookup"
  val History = "history"
  val Tree = "tree"
  val Rollup = "rollup"

  final case class Loop(attempted: Int, failed: Int, correct: Boolean, wallS: Double,
                        latencies: Map[String, Seq[Double]], repeatedShare: Double)

  /** 60% lookups, 20% history, 10% tree and 10% roll-up, spread out. */
  val Mix: IndexedSeq[String] =
    IndexedSeq(Lookup, History, Lookup, Tree, Lookup, Lookup, History, Lookup, Rollup, Lookup)

  sealed trait Op {
    def kind: String
    def key: Any
    def expect(rows: Array[Row], children: Map[Int, Seq[Edge]]): Boolean
  }

  private def close(a: java.math.BigDecimal, b: BigDecimal): Boolean =
    a != null && (BigDecimal(a) - b).abs <= BigDecimal("1e-5") * (b.abs max BigDecimal(1))

  final case class LookupOp(code: Int, uf: Int, month: Int, regime: Int, cost: Option[BigDecimal]) extends Op {
    def kind = Lookup
    def key = (code, uf, month, regime)
    def expect(rows: Array[Row], children: Map[Int, Seq[Edge]]): Boolean = cost match {
      case None => rows.isEmpty
      case Some(c) => rows.length == 1 && close(rows(0).getDecimal(0), c) && rows(0).getString(1) == "ATIVO"
    }
  }

  final case class HistoryOp(code: Int, tipo: String, events: Seq[(java.sql.Date, String)]) extends Op {
    def kind = History
    def key = (code, tipo)
    def expect(rows: Array[Row], children: Map[Int, Seq[Edge]]): Boolean =
      rows.map(r => (r.getDate(0), r.getString(1))).toSeq == events
  }

  final case class TreeOp(code: Int) extends Op {
    def kind = Tree
    def key = code
    def expect(rows: Array[Row], children: Map[Int, Seq[Edge]]): Boolean = {
      val want = Sinapi.tree(code, children)
      val got = rows.map(r => r.getInt(0) -> r.getDecimal(1)).toMap
      got.keySet == want.keySet && want.forall { case (n, e) => close(got(n), e) }
    }
  }

  final case class RollupOp(code: Int, uf: Int, regime: Int, total: Option[BigDecimal]) extends Op {
    def kind = Rollup
    def key = (code, uf, regime)
    def expect(rows: Array[Row], children: Map[Int, Seq[Edge]]): Boolean =
      rows.length == 1 && (total match {
        case None => rows(0).isNullAt(0)
        case Some(t) => close(rows(0).getDecimal(0), t.setScale(6, BigDecimal.RoundingMode.HALF_UP))
      })
  }

  /** Zipf(1.1) draws over a fixed ranking. */
  final class Zipf[A](ranked: IndexedSeq[A], rng: scala.util.Random) {
    private val cdf = ranked.indices.map(k => 1.0 / math.pow(k + 1, 1.1)).scanLeft(0.0)(_ + _).tail
    def next(): A = {
      val x = rng.nextDouble() * cdf.last
      val i = java.util.Arrays.binarySearch(cdf.toArray, x)
      ranked(math.min(if (i >= 0) i else -i - 1, ranked.size - 1))
    }
  }

  /** Per-query layer numbers of the traced loop: Catalyst time from
    * `queryExecution.tracker`, files and rows the lookup scans read, and
    * the rounds and jobs `TreeExplode` takes. */
  final class Probe(spark: SparkSession, counters: SparkCounters) {
    val planMs = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val execMs = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val filesRead = mutable.ArrayBuffer.empty[Double]
    val rowsScannedPerRow = mutable.ArrayBuffer.empty[Double]
    val treeRounds = mutable.ArrayBuffer.empty[Double]
    val treeJobs = mutable.ArrayBuffer.empty[Double]
    private val treeCodes = mutable.ArrayBuffer.empty[Int]

    def apply(op: Op, build: => DataFrame): Array[Row] = {
      org.apache.spark.ListenerDrain(spark.sparkContext)
      val jobs0 = counters.jobs.get
      val t0 = System.nanoTime()
      val df = build
      val rows = df.collect()
      val totalMs = (System.nanoTime() - t0) / 1e6
      val plan = df.queryExecution.tracker.phases.values.map(_.durationMs).sum.toDouble
      planMs.getOrElseUpdate(op.kind, mutable.ArrayBuffer.empty) += plan
      execMs.getOrElseUpdate(op.kind, mutable.ArrayBuffer.empty) += totalMs - plan
      op match {
        case _: LookupOp =>
          val scanned = scans(df.queryExecution.executedPlan)
          filesRead += scanned.map(_.metrics("numFiles").value).sum.toDouble
          rowsScannedPerRow += scanned.map(_.metrics("numOutputRows").value).sum.toDouble / math.max(1, rows.length)
        case t: TreeOp =>
          org.apache.spark.ListenerDrain(spark.sparkContext)
          treeJobs += (counters.jobs.get - jobs0).toDouble
          treeCodes += t.code
        case _ => ()
      }
      rows
    }

    /** Fills `treeRounds`, one entry per traced tree query, from
      * `TreeExplode.explodeWithRounds` over the edges `Queries.estrutura`
      * reads. Called after the traced loop with the listener removed and
      * an untimed store, so these extra explodes land in no latency, span,
      * store or Spark counter. */
    def countRounds(store: TableStore): Unit = {
      val byCode = treeCodes.distinct.map(c => c -> rounds(store, c)).toMap
      treeRounds ++= treeCodes.map(c => byCode(c).toDouble)
    }

    private def rounds(store: TableStore, code: Int): Int = {
      val ins = store.read("composicao_insumos").select(col("composicao_pai_codigo").as("parent"),
        col("insumo_filho_codigo").as("child"), col("coeficiente").as("coeff"))
      val subs = store.read("composicao_subcomposicoes").select(col("composicao_pai_codigo").as("parent"),
        col("composicao_filho_codigo").as("child"), col("coeficiente").as("coeff"))
      TreeExplode.explodeWithRounds(ins.unionByName(subs), spark.range(1).select(lit(code).as("root")))._2
    }

    private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
    }
  }
}
