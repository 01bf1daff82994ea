package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.config.EngineConfig
import graft.ingest.{Processors, Staging, XlsxToCsv}
import graft.model.Schemas
import graft.pipeline.PipelineETL
import graft.store.TableStore

/** `etl_monthly`: a `graft.pipeline.Main` process loads one new month of
  * workbooks into a warehouse that already holds [[Harness.HistoryMonths]]
  * months. Each load gets a restored warehouse and a fresh staging
  * directory, since `preconvert` never overwrites an existing CSV. */
final class EtlMonthly(spark: SparkSession, run: Harness.Run) {
  import EtlMonthly._
  import Harness._

  private val month = HistoryMonths
  private val cfg = EngineConfig.load(env = Map.empty)

  def apply(): Outcome = {
    val model = timed("model")(new Sinapi(run.seed, month))
    val inputs = run.work.resolve("inputs")
    deleteTree(inputs)
    val cells = timed("workbooks")(Inputs.writeWorkbooks(model, month, inputs))
    val passes = if (run.trace) 1 else SetupPasses
    val setups = (1 to passes).map { i =>
      val wh = run.work.resolve(s"warehouse$i")
      deleteTree(wh)
      val (_, s) = time(Inputs.seed(spark, new TableStore(spark, wh.toString), model, month - 1))
      log(f"seeding pass $i: $s%.3f s")
      if (i > 1) deleteTree(run.work.resolve(s"warehouse${i - 1}"))
      s
    }
    val ready = Ready(run.work.resolve(s"warehouse$passes"), inputs)
    val truth = timed("truth")(model.truthAfter(month))
    if (run.trace) traced(ready, truth, cells) else untraced(ready, truth, setups)
  }

  /** Whole loads until `--seconds` have passed, at least one. */
  private def untraced(ready: Ready, truth: Truth, setups: Seq[Double]): Outcome = {
    var attempted = 0
    var failed = 0
    var correct = true
    var spent = 0.0
    val loads = mutable.ArrayBuffer.empty[Double]
    var bytesPerRow = 0.0
    while (attempted == 0 || spent < run.seconds) {
      attempted += 1
      val load = launch(ready, s"load$attempted", "graft.pipeline.Main")
      spent += load.wallS
      load.report match {
        case Some(report) =>
          log(f"load $attempted: ${load.wallS}%.3f s")
          val (ok, rows, bytes) = timed("check")(check(load.warehouse, report, truth))
          correct &&= ok
          loads += load.wallS
          bytesPerRow = bytes.toDouble / math.max(1L, rows)
        case None => failed += 1
      }
    }

    Outcome(correct && failed == 0, attempted, failed, Map(
      "setup_s" -> Stats.median(setups),
      "success_share" -> (attempted - failed).toDouble / attempted,
      "op_ms_p50" -> Stats.median(loads.toSeq) * 1000,
      "ops_per_s" -> loads.size / math.max(loads.sum, 1e-9),
      "warehouse_bytes_per_row" -> bytesPerRow))
  }

  /** Restores the seeded warehouse, stages the workbooks in a fresh
    * directory and times one load process (`graft.pipeline.Main`, or its
    * traced twin [[TracedLoad]]) from launch to exit. A non-zero exit is
    * a failed load. */
  private def launch(ready: Ready, name: String, mainClass: String, extraArgs: String*): Load = {
    val dir = run.work.resolve(name)
    deleteTree(dir)
    val (wh, staging) = timed("restore")(prepare(ready, dir))
    val java = Path.of(sys.props("java.home"), "bin", "java").toString
    val jvmArgs = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
    val cmd = (java +: jvmArgs) ++ Seq("-cp", sys.props("java.class.path"),
      mainClass, staging.toString, wh.toString, "2025", (month + 1).toString) ++ extraArgs
    val pb = new ProcessBuilder(cmd: _*)
      .redirectOutput(dir.resolve("main.out").toFile)
      .redirectError(dir.resolve("main.err").toFile)
    val env = pb.environment()
    env.keySet.asScala.toSeq.filter(k => k.startsWith("AUTOSINAPI_") || k == "SPARK_MASTER").foreach(env.remove)
    env.put("SPARK_GRAFT_CPUS", run.cores.toString)
    val (exit, wall) = time(pb.start().waitFor())
    val out = new String(Files.readAllBytes(dir.resolve("main.out")), StandardCharsets.UTF_8)
    val report =
      if (exit != 0) None
      else out.linesIterator.filter(_.startsWith("{")).toSeq.lastOption.map { line =>
        val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
        Report(node.get("status").asText(), node.get("sheet_errors").size(),
          node.get("phase_seconds").properties().asScala.map(e => e.getKey -> e.getValue.asDouble()).toMap)
      }
    if (report.isEmpty)
      run.recordFailure(name, new RuntimeException(
        s"$mainClass exited with $exit and no run report; see $dir/main.err"))
    Load(wall, wh, report)
  }

  private def prepare(ready: Ready, dir: Path): (Path, Path) = {
    val wh = dir.resolve("warehouse")
    val staging = dir.resolve("staging")
    copyTree(ready.warehouse, wh)
    copyTree(ready.inputs, staging)
    (wh, staging)
  }

  /** Output checks: the run succeeded, table counts match the model,
    * every edge endpoint exists in its catalog, statuses follow the
    * maintenance log, and no `.staging/<table>_old_<id>` copy was left behind.
    * Returns (passed, live rows, bytes on disk). */
  private def check(wh: Path, report: Report, truth: Truth): (Boolean, Long, Long) = {
    val problems = mutable.ArrayBuffer.empty[String]
    if (report.status != cfg("STATUS_SUCCESS") || report.errors > 0)
      problems += s"run status ${report.status} with ${report.errors} sheet error(s)"
    val store = new TableStore(spark, wh.toString)
    val counts = Schemas.all.keys.map(t => t -> store.read(t).count()).toMap
    counts.foreach { case (t, n) =>
      if (truth.counts(t) != n) problems += s"$t has $n rows, expected ${truth.counts(t)}"
    }
    def orphans(edges: String, childCol: String, catalog: String) =
      store.read(edges).join(store.read(catalog), col(childCol) === col("codigo"), "left_anti").count()
    Seq(("composicao_insumos", "insumo_filho_codigo", "insumos"),
      ("composicao_subcomposicoes", "composicao_filho_codigo", "composicoes"),
      ("composicao_insumos", "composicao_pai_codigo", "composicoes"),
      ("composicao_subcomposicoes", "composicao_pai_codigo", "composicoes")).foreach { case (e, c, cat) =>
      val n = orphans(e, c, cat)
      if (n > 0) problems += s"$n $e.$c values missing from $cat"
    }
    def statuses(catalog: String, deactivated: Set[Int]): Unit = {
      val byStatus = store.read(catalog).groupBy("status").agg(collect_list("codigo"))
        .collect().map(r => Option(r.getString(0)) -> r.getSeq[Int](1).toSet).toMap
      val off = byStatus.getOrElse(Some(Schemas.Status.Desativado), Set.empty[Int])
      if (off != deactivated) problems += s"$catalog: ${off.size} codes DESATIVADO, expected ${deactivated.size}"
      if ((byStatus.keySet - Some(Schemas.Status.Desativado) - Some(Schemas.Status.Ativo)).nonEmpty)
        problems += s"$catalog: unexpected statuses ${byStatus.keySet}"
    }
    statuses("insumos", truth.deactivatedInsumos)
    statuses("composicoes", truth.deactivatedComposicoes)
    val leftovers = Option(wh.resolve(".staging").toFile.list()).getOrElse(Array.empty[String])
      .count(_.contains("_old_"))
    if (leftovers > 0) problems += s"$leftovers .staging/<table>_old_<id> directories left behind"
    problems.foreach(p => System.err.println(s"[perfbench] etl_monthly check failed: $p"))
    (problems.isEmpty, counts.values.sum, Harness.dataFiles(wh).values.sum)
  }

  /** Per-layer numbers from one load by the traced twin of `Main`: the
    * pipeline phases from its run report, the Spark counters and the
    * store timings from its probes. The twin differs from `Main` only by
    * the probes, and it times the calls `Main` does not make (file walks,
    * listener drain, span writes and metric collection); that time is the
    * tracing overhead, and it is kept out of `pipeline.outside_phases_s`. A second,
    * untraced load to difference against would not fit the run's time
    * limit, and on a shared host one load's wall time swings by far more
    * than the probes cost. The ingest functions are timed one by one in
    * this process. */
  private def traced(ready: Ready, truth: Truth, cells: Long): Outcome = {
    val metricsFile = run.work.resolve("traced-load.json")
    val load = launch(ready, "load-traced", "perfbench.TracedLoad",
      metricsFile.toString, run.work.resolve("trace").toString, run.cores.toString)
    val ok = load.report.exists(r => timed("check")(check(load.warehouse, r, truth))._1)
    val out = mutable.Map.empty[String, Double]
    if (Files.exists(metricsFile)) {
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(metricsFile.toFile)
      out ++= node.properties().asScala.map(e => e.getKey -> e.getValue.asDouble())
    }
    load.report.foreach { r =>
      Seq("preconvert", "maintenance", "transform", "load", "repair_and_sync").foreach { p =>
        out(s"pipeline.${p}_s") = r.phases.getOrElse(p, 0.0)
      }
      out("pipeline.outside_phases_s") =
        load.wallS - r.phases.values.sum - out.getOrElse("trace.overhead_s", 0.0)
    }

    val trace = new Tracer(enabled = true, s"etl_monthly-ingest-${run.seed}")
    ingest(ready.inputs, run.work.resolve("ingest"), trace)
    trace.write(run.work.resolve("trace-ingest"))
    out ++= Map(
      "ingest.xlsx_convert_s" -> trace.seconds("ingest.xlsx_convert"),
      "ingest.xlsx_cells_per_s" -> cells / math.max(trace.seconds("ingest.xlsx_convert"), 1e-9),
      "ingest.stage_s" -> trace.seconds("ingest.stage"),
      "ingest.process_s" -> trace.seconds("ingest.process"))
    val failed = if (load.report.isEmpty) 1 else 0
    Outcome(ok, 1, failed, out.toMap)
  }

  /** Times `XlsxToCsv.Workbook.convertSheet`, `Staging.stage*` and
    * `Processors.*` on this month's workbooks, each forced with a count. */
  private def ingest(inputs: Path, dir: Path, trace: Tracer): Unit = {
    deleteTree(dir)
    Files.createDirectories(dir)
    Files.list(inputs).iterator.asScala.toSeq.sortBy(_.toString).foreach { f =>
      val wb = new XlsxToCsv.Workbook(f)
      try wb.sheetNames.foreach { s =>
        trace("ingest.xlsx_convert")(wb.convertSheet(s, dir.resolve(XlsxToCsv.asciiName(s) + ".csv")))
      } finally wb.close()
    }
    def csv(name: String) = dir.resolve(name + ".csv").toString
    def staged(name: String, keywords: String, twoRow: Boolean = false) = trace("ingest.stage") {
      val df =
        if (twoRow) Staging.stageTwoRowHeader(spark, csv(name), cfg.list(keywords), cfg)
        else Staging.stage(spark, csv(name), cfg.list(keywords), cfg)
      df.count()
      df
    }
    def process(frames: => Seq[org.apache.spark.sql.DataFrame]): Unit =
      trace("ingest.process")(frames.foreach(_.count()))
    val dataRef = Sinapi.date(month)
    Sinapi.Regimes.foreach { case (precos, custos, regime) =>
      val p = staged(precos, "PRECOS_HEADER_KEYWORDS")
      process { val (cat, prices) = Processors.processPrecosSheet(p, regime, dataRef, cfg); Seq(cat, prices) }
      val c = staged(custos, "CUSTOS_HEADER_KEYWORDS", twoRow = true)
      process(Seq(Processors.processCustosSheet(c, regime, dataRef, cfg)))
    }
    val a = staged("Analitico", "COMPOSICAO_HEADER_KEYWORDS")
    process { val (p, d, i, s) = Processors.processAnalitico(a, cfg); Seq(p, d, i, s) }
    val m = staged("Manutencoes", "MANUTENCOES_HEADER_KEYWORDS")
    process(Seq(Processors.processManutencoes(m, cfg)))
  }
}

object EtlMonthly {
  final case class Report(status: String, errors: Int, phases: Map[String, Double])
  final case class Load(wallS: Double, warehouse: Path, report: Option[Report])
  /** The seeded warehouse and the month's workbooks every load starts from. */
  final case class Ready(warehouse: Path, inputs: Path)
}

/** `graft.pipeline.Main` with the benchmark's probes attached: the same
  * session and pipeline run, over a [[TimingTableStore]] and with a
  * [[SparkCounters]] listener. Prints the run report like `Main` and
  * writes the store and Spark per-layer metrics as one JSON object, with
  * the time spent in the calls `Main` does not make as `trace.overhead_s`.
  *
  * Usage: perfbench.TracedLoad <stagingDir> <warehouseDir> <year> <month> <metricsJson> <traceDir> <cores>
  */
object TracedLoad {
  def main(args: Array[String]): Unit = {
    val Array(stagingDir, warehouseDir, y, m, metricsJson, traceDir, cores) = args
    val t0 = System.nanoTime()
    var probeNs = 0L
    def probe[A](body: => A): A = {
      val p0 = System.nanoTime()
      try body finally probeNs += System.nanoTime() - p0
    }
    val spark = Harness.session(cores.toInt)
    val counters = new SparkCounters()
    val trace = new Tracer(enabled = true, s"etl_monthly-load-$y-$m")
    val wh = Path.of(warehouseDir)
    val store = new TimingTableStore(spark, warehouseDir, trace)
    val cfg = EngineConfig.load()
    val before = probe {
      spark.sparkContext.addSparkListener(counters)
      Harness.dataFiles(wh)
    }
    val report = trace("pipeline.run")(new PipelineETL(spark, store, cfg).run(stagingDir, y.toInt, m.toInt))
    val metrics = probe {
      org.apache.spark.ListenerDrain(spark.sparkContext)
      val written = Harness.dataFiles(wh).filter { case (f, _) => !before.contains(f) }
      trace.write(Path.of(traceDir))
      Map(
        "store.upsert_s" -> trace.seconds("store.upsert"),
        "store.append_ignore_s" -> trace.seconds("store.append_ignore"),
        "store.overwrite_s" -> trace.seconds("store.overwrite"),
        "store.read_s" -> trace.seconds("store.read"),
        "store.read_calls" -> store.readCalls.get.toDouble,
        "store.files_written" -> written.size.toDouble,
        "store.bytes_written" -> written.values.sum.toDouble,
        "store.staging_leftovers" ->
          Option(wh.resolve(".staging").toFile.list()).map(_.length).getOrElse(0).toDouble) ++
        counters.metrics((System.nanoTime() - t0) / 1e9, cores.toInt)
    } + ("trace.overhead_s" -> probeNs / 1e9)
    Files.write(Path.of(metricsJson),
      metrics.map { case (k, v) => s""""$k":${Stats.num(v)}""" }.mkString("{", ",", "}")
        .getBytes(StandardCharsets.UTF_8))
    println(graft.pipeline.RunReportJson.render(report))
    spark.stop()
    if (report.status == cfg("STATUS_FAILURE")) sys.exit(1)
  }
}
