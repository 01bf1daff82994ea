package graft.pipeline

import java.sql.Date
import java.util.concurrent.{Callable, Executors}

import scala.util.{Failure, Success, Try}

import org.apache.logging.log4j.ThreadContext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.config.EngineConfig
import graft.ingest.{Processors, Staging}
import graft.model.Schemas
import graft.ops.Lifecycle
import graft.store.TableStore

/** Run contract of the reference (`etl_pipeline.py:506-511`,
  * statuses `config.py:40-42`; 8-char run id `__init__.py:64`). */
final case class RunReport(
    runId: String,
    status: String,
    message: String,
    tablesUpdated: Seq[String],
    recordsInserted: Map[String, Long],
    sheetErrors: Map[String, String] = Map.empty,
    phaseSeconds: Map[String, Double] = Map.empty)

/** Phase-0..3 orchestrator (`etl_pipeline.py:426-504`, SURVEY §2.11 O1-O3)
  * over a staging directory of `;`-CSV sheets:
  *
  *   Manutencoes*.csv          maintenance log (filename keyword routing, P9)
  *   ISD/ICD/ISE*.csv          insumo price sheets  (SHEET_MAP routing, S7)
  *   CSD/CCD/CSE*.csv          composition cost sheets (two-row header)
  *   Analitico*.csv            composition structure sheet
  *
  * Load order reaches the reference's end state (`etl_pipeline.py:340-380`):
  * maintenance log (append-ignore), edges (truncate-reload), facts
  * (append-ignore), then each catalog published once in its month-end
  * state (upsert, placeholder repair J1-J3, status sync W1/J4). That order
  * fixes an end state, not a serial schedule, so the writes that do not
  * read each other run side by side on driver threads:
  *
  *  - `load`: the log append (its files one after another, in name
  *    order), both edge reloads and both fact appends — five tables, and
  *    no write reads another's table;
  *  - `repair_and_sync`, after every `load` write has finished: the
  *    `insumos` and `composicoes` publishes. Each reads the log and the
  *    edge tables and writes only itself, and status is a pure function of
  *    the immutable log, so neither depends on when the other runs.
  *
  * Each write is one Spark action over a batch evaluated once; its row
  * count is observed on the write ([[TableStore.observedCount]]), not
  * counted by a second pass. Outcomes are recorded on the calling thread
  * in that order, so the report does not depend on which write ends
  * first. Per-sheet failures are isolated (O2, processor.py:496-500):
  * logged into the report, the rest of the run proceeds; a maintenance
  * sheet whose log append fails is such a sheet. A failed edge, fact or
  * catalog write fails the run, once the other writes of its phase have
  * finished.
  */
class PipelineETL(spark: SparkSession, store: TableStore, cfg: EngineConfig) {

  private val sheetMap: Map[String, (String, String)] =
    EngineConfig.subMap(cfg, "SHEET_MAP").map { case (k, v) =>
      val Array(table, regime) = v.split(':'); k -> (table, regime)
    }

  def run(stagingDir: String, year: Int, month: Int): RunReport = {
    // 8-char run id tagged onto every log line (O4, `__init__.py:64`;
    // log4j MDC is the JVM counterpart of the reference's run-scoped
    // logging handler, `etl_pipeline.py:75-113`).
    val runId = java.util.UUID.randomUUID().toString.take(8)
    ThreadContext.put("graftRunId", runId)
    try runInternal(runId, stagingDir, year, month)
    finally ThreadContext.remove("graftRunId")
  }

  private def runInternal(runId: String, stagingDir: String, year: Int, month: Int): RunReport = {
    val dataRef = Date.valueOf(f"$year-$month%02d-01")
    val errors = scala.collection.mutable.Map.empty[String, String]
    val inserted = scala.collection.mutable.LinkedHashMap.empty[String, Long]

    def isolated[A](sheet: String)(body: => A): Option[A] =
      try Some(body)
      catch { case e: Exception => errors(sheet) = e.getMessage; None }

    // measure, don't guess: wall-clock per phase in the run report
    val phaseSeconds = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def phase[A](name: String)(body: => A): A = {
      val t0 = System.nanoTime()
      try body finally phaseSeconds(name) = (System.nanoTime() - t0) / 1e9
    }

    // S6 pre-conversion (pre_processor.py:51-84): workbooks dropped into
    // the staging dir — OOXML `.xlsx` or legacy BIFF8 `.xls`, matching
    // the reference whitelist (`config.py:24`) — are expanded to one
    // `;`-CSV per sheet (accent-stripped names) so the filename routing
    // below treats workbook tabs and pre-staged CSVs identically. A CSV
    // that already exists wins — conversion never clobbers explicit
    // input. Failures are isolated PER SHEET (O2): a corrupt sheet part
    // must not lose the workbook's other, readable sheets; an unreadable
    // workbook (can't even list sheets) is isolated per file.
    phase("preconvert") {
      Option(new java.io.File(stagingDir).listFiles()).getOrElse(Array.empty)
        .filter { f =>
          val n = f.getName.toLowerCase
          f.isFile && (n.endsWith(".xlsx") || n.endsWith(".xls"))
        }
        .sortBy(_.getName)
        .foreach { f =>
          isolated(f.getName) {
            // one open workbook per file (shared-string table parsed
            // once), dispatched on the container magic
            val wb = graft.ingest.Workbook.open(f.toPath)
            try wb.sheetNames.foreach { sheet =>
              isolated(s"${f.getName}!$sheet") {
                val out = new java.io.File(stagingDir,
                  graft.ingest.XlsxToCsv.asciiName(sheet) + ".csv")
                if (!out.exists()) wb.convertSheet(sheet, out.toPath, cfg("CSV_SEPARATOR").head)
              }
            } finally wb.close()
          }
        }
    }

    val files = Option(new java.io.File(stagingDir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.toLowerCase.endsWith(".csv"))
      .sortBy(_.getName)

    def route(pred: String => Boolean): Seq[java.io.File] =
      files.filter(f => pred(f.getName)).toSeq

    // Phase 0: schema bootstrap (S13) — only for tables not yet present,
    // so monthly re-runs keep history.
    phase("bootstrap") {
      Schemas.all.keys.filterNot(store.exists).foreach { t =>
        store.overwrite(t, store.read(t))
      }
    }

    // Phase 2a: maintenance-first (etl_pipeline.py:450-458): each sheet
    // is staged and processed here; `load` appends it to the log.
    val maintenance = phase("maintenance") {
      route(_.contains("Manuten")).flatMap { f =>
        isolated(f.getName) {
          val staged = Staging.stage(spark, f.getPath,
            cfg.list("MANUTENCOES_HEADER_KEYWORDS"), cfg)
          f.getName -> Processors.processManutencoes(staged, cfg)
        }
      }
    }

    // Phase 2b/3: reference workbook — prices, structure, costs.
    val catalogFragments = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val priceFragments = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val sheetPriority = cfg.list("SHEET_PRIORITY")
    def byPriority(entries: Seq[(String, (String, String))]) =
      entries.sortBy { case (k, _) =>
        val i = sheetPriority.indexOf(k); if (i < 0) Int.MaxValue else i
      }
    val (analitico, custoFragments) = phase("transform") {
      for {
        (key, (table, regime)) <- byPriority(sheetMap.toSeq) if table == "precos"
        f <- route(_.startsWith(key))
      } isolated(f.getName) {
        val staged = Staging.stage(spark, f.getPath, cfg.list("PRECOS_HEADER_KEYWORDS"), cfg)
        val (cat, prices) = Processors.processPrecosSheet(staged, regime, dataRef, cfg)
        catalogFragments += cat
        priceFragments += prices
      }

      val analitico = route(n => n.contains("Analitico") && !n.contains("Custo")).headOption
        .flatMap { f =>
          isolated(f.getName) {
            val staged = Staging.stage(spark, f.getPath,
              cfg.list("COMPOSICAO_HEADER_KEYWORDS"), cfg)
            Processors.processAnalitico(staged, cfg)
          }
        }

      val custoFragments = for {
        (key, (table, regime)) <- byPriority(sheetMap.toSeq) if table == "custos"
        f <- route(_.startsWith(key))
        out <- isolated(f.getName) {
          val staged = Staging.stageTwoRowHeader(spark, f.getPath,
            cfg.list("CUSTOS_HEADER_KEYWORDS"), cfg)
          Processors.processCustosSheet(staged, regime, dataRef, cfg)
        }
      } yield out
      (analitico, custoFragments)
    }

    phase("load") {
      // One lane per table: the log append (files in name order, each
      // isolated like its sheet, O2), the edge truncate-reloads (S12,
      // etl_pipeline.py:359-360) and the fact appends.
      val logAppend = maintenance.map { case (sheet, events) =>
        sheet -> (() => store.appendIgnore("manutencoes_historico", events))
      }
      val edgeReloads = analitico.toSeq.flatMap { case (_, _, insumoEdges, subcompEdges) =>
        Seq("composicao_insumos" -> insumoEdges, "composicao_subcomposicoes" -> subcompEdges)
      }.map { case (t, edges) => t -> (() => TableStore.observedCount(edges)(store.overwrite(t, _))) }
      val factAppends =
        Seq("precos_insumos_mensal" -> priceFragments, "custos_composicoes_mensal" -> custoFragments)
          .collect { case (t, fragments) if fragments.nonEmpty =>
            t -> (() => store.appendIgnore(t, fragments.reduce(_ unionByName _)))
          }
      val (logOutcomes, writeOutcomes) =
        sideBySide(runId, logAppend +: (edgeReloads ++ factAppends).map(Seq(_)))
          .splitAt(logAppend.size)
      logOutcomes.foreach {
        case (_, Success(n)) =>
          inserted("manutencoes_historico") = inserted.getOrElse("manutencoes_historico", 0L) + n
        case (sheet, Failure(e: Exception)) => errors(sheet) = e.getMessage
        case (_, Failure(e)) => throw e
      }
      writeOutcomes.foreach { case (t, outcome) => inserted(t) = outcome.get }
    }

    phase("repair_and_sync") {
      val maintenanceLoaded = inserted.contains("manutencoes_historico")
      if (maintenanceLoaded || catalogFragments.nonEmpty || analitico.nonEmpty) {
        val log = store.read("manutencoes_historico")
        val details = analitico.map(_._2)
        // A4: consolidate per-sheet catalog fragments, first-sheet-wins
        // (priority = position in the fragment sequence, made explicit).
        val insumoRows = Option.when(catalogFragments.nonEmpty)(
          graft.ops.Relational.dedupKeepFirst(
            catalogFragments.zipWithIndex
              .map { case (df, i) => df.withColumn("__prio", lit(i)) }
              .reduce(_ unionByName _),
            Seq("codigo"), Seq(col("__prio").asc)).drop("__prio"))
        val publishes = Seq(
          "insumos" -> (() => publishCatalog("insumos", Schemas.ItemType.Insumo, insumoRows, details,
            Seq("composicao_insumos" -> "insumo_filho_codigo"),
            cfg("PLACEHOLDER_INSUMO_DESC"), log)),
          "composicoes" -> (() => publishCatalog("composicoes", Schemas.ItemType.Composicao,
            analitico.map(_._1), details,
            Seq("composicao_subcomposicoes" -> "composicao_filho_codigo",
              "composicao_insumos" -> "composicao_pai_codigo",
              "composicao_subcomposicoes" -> "composicao_pai_codigo"),
            cfg("PLACEHOLDER_COMPOSICAO_DESC"), log)))
        sideBySide(runId, publishes.map(Seq(_)))
          .foreach { case (t, outcome) => outcome.get.foreach(inserted(t) = _) }
      }
    }

    val anyData = inserted.values.sum > 0
    val status =
      if (errors.nonEmpty && inserted.isEmpty) cfg("STATUS_FAILURE")
      else if (!anyData) cfg("STATUS_NO_DATA")
      else cfg("STATUS_SUCCESS")
    RunReport(runId, status,
      if (errors.isEmpty) s"processed ${files.length} sheet file(s) for $dataRef"
      else s"completed with ${errors.size} sheet error(s): ${errors.keys.mkString(", ")}",
      inserted.keys.toSeq, inserted.toMap, errors.toMap, phaseSeconds.toMap)
  }

  /** Publishes one catalog's month-end state with ONE overwrite: this
    * month's `fresh` rows (status ATIVO) upserted over the existing
    * catalog, plus placeholders (J3, `etl_pipeline.py:287-338`) for the
    * codes the published `refs` edge columns hold but the merged catalog
    * lacks, then every status synced from the maintenance log (W1/J4).
    * The upsert rewrites whole rows (status included), while in the
    * reference PG's column-list INSERT leaves absent columns untouched.
    * Status is a pure function of the immutable maintenance log, so
    * deriving it once here restores the same end state idempotently.
    * Returns new codes plus placeholders, None if neither arrived. */
  private def publishCatalog(table: String, tipo: String, fresh: Option[DataFrame],
                             details: Option[DataFrame], refs: Seq[(String, String)],
                             placeholderDesc: String, log: DataFrame): Option[Long] = {
    val pk = Schemas.primaryKeys(table)
    // rows entering this month: the table's columns, status ATIVO, absent
    // columns null, null keys dropped (as upsert/append-ignore do), and
    // flagged `__new` — the upsert keeps one incoming row per code
    def entering(df: DataFrame): DataFrame =
      df.select(Schemas.all(table).fields.toIndexedSeq.map { f =>
        if (f.name == "status") lit(Schemas.Status.Ativo).as(f.name)
        else if (df.columns.contains(f.name)) col(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      } :+ lit(true).as("__new"): _*).na.drop(pk)
    val existing = store.read(table).withColumn("__new", lit(false))
    val incoming = fresh.map(entering)
    val merged = incoming.fold(existing)(graft.ops.Relational.upsert(existing, _, pk))
    val placeholders = details.map { d =>
      val referenced = refs.map { case (t, c) => store.read(t).select(col(c).as("codigo")) }
        .reduce(_ unionByName _)
      entering(Lifecycle.placeholderRows(
        Lifecycle.missingCodes(referenced, "codigo", merged),
        d.filter(col("tipo") === tipo).select("codigo", "descricao", "unidade"),
        placeholderDesc, cfg("PLACEHOLDER_UNIT")))
    }
    val state = Lifecycle.syncStatus(placeholders.fold(merged)(merged.unionByName),
      log, tipo, cfg("DEACTIVATION_KEYWORD"))
    val added = TableStore.observedCount(state, count_if(col("__new")))(s =>
      store.overwrite(table, s.drop("__new")))
    Option.when(fresh.nonEmpty || added > 0)(added)
  }

  /** Runs each lane's writes in order on a driver thread of its own, the
    * lanes side by side, and returns every write's outcome in lane order
    * once all of them have finished. Spark schedules the jobs of the
    * concurrent actions together, so independent writes share the cores
    * instead of queueing. The pool is as wide as the number of lanes. */
  private def sideBySide[A](runId: String, lanes: Seq[Seq[(String, () => A)]]): Seq[(String, Try[A])] = {
    val busy = lanes.filter(_.nonEmpty)
    if (busy.isEmpty) Nil
    else {
      val pool = Executors.newFixedThreadPool(busy.size)
      try {
        val running = busy.map { lane =>
          pool.submit(new Callable[Seq[(String, Try[A])]] {
            def call(): Seq[(String, Try[A])] = {
              ThreadContext.put("graftRunId", runId)
              try lane.map { case (name, write) => name -> Try(write()) }
              finally ThreadContext.remove("graftRunId")
            }
          })
        }
        running.flatMap(_.get())
      } finally pool.shutdown()
    }
  }
}
