package graft.pipeline

import java.sql.Date

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.config.EngineConfig
import graft.ingest.{Processors, Staging}
import graft.model.Schemas
import graft.ops.Lifecycle

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
  * state (upsert, placeholder repair J1-J3, status sync W1/J4). Per-sheet
  * failures are isolated (O2, processor.py:496-500): logged into the
  * report, the rest of the run proceeds. A failed catalog publish fails it.
  */
class PipelineETL(spark: SparkSession, store: graft.store.TableStore, cfg: EngineConfig) {

  private val sheetMap: Map[String, (String, String)] =
    EngineConfig.subMap(cfg, "SHEET_MAP").map { case (k, v) =>
      val Array(table, regime) = v.split(':'); k -> (table, regime)
    }

  def run(stagingDir: String, year: Int, month: Int): RunReport = {
    // 8-char run id tagged onto every log line (O4, `__init__.py:64`;
    // log4j MDC is the JVM counterpart of the reference's run-scoped
    // logging handler, `etl_pipeline.py:75-113`).
    val runId = java.util.UUID.randomUUID().toString.take(8)
    org.apache.logging.log4j.ThreadContext.put("graftRunId", runId)
    try runInternal(runId, stagingDir, year, month)
    finally org.apache.logging.log4j.ThreadContext.remove("graftRunId")
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
            val (names, convert, close):
                (Seq[String], (String, java.nio.file.Path) => Unit, () => Unit) =
              if (graft.ingest.XlsxToCsv.isLegacyXls(f.toPath)) {
                val wb = new graft.ingest.BiffToCsv.Workbook(f.toPath)
                (wb.sheetNames,
                  (s, p) => { wb.convertSheet(s, p, cfg("CSV_SEPARATOR").head); () },
                  () => wb.close())
              } else {
                val wb = new graft.ingest.XlsxToCsv.Workbook(f.toPath)
                (wb.sheetNames,
                  (s, p) => { wb.convertSheet(s, p, cfg("CSV_SEPARATOR").head); () },
                  () => wb.close())
              }
            try names.foreach { sheet =>
              isolated(s"${f.getName}!$sheet") {
                val out = new java.io.File(stagingDir,
                  graft.ingest.XlsxToCsv.asciiName(sheet) + ".csv")
                if (!out.exists()) convert(sheet, out.toPath)
              }
            } finally close()
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

    // Phase 2a: maintenance-first (etl_pipeline.py:450-458).
    phase("maintenance") {
      route(_.contains("Manuten")).foreach { f =>
        isolated(f.getName) {
          val staged = Staging.stage(spark, f.getPath,
            cfg.list("MANUTENCOES_HEADER_KEYWORDS"), cfg)
          val events = Processors.processManutencoes(staged, cfg)
          val n = store.appendIgnore("manutencoes_historico", events)
          inserted("manutencoes_historico") = inserted.getOrElse("manutencoes_historico", 0L) + n
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
      // S12: edges are truncate-reloaded each month (etl_pipeline.py:359-360).
      analitico.foreach { case (_, _, insumoEdges, subcompEdges) =>
        Seq("composicao_insumos" -> insumoEdges, "composicao_subcomposicoes" -> subcompEdges)
          .foreach { case (t, edges) => store.overwrite(t, edges); inserted(t) = store.read(t).count() }
      }
      if (priceFragments.nonEmpty)
        inserted("precos_insumos_mensal") =
          store.appendIgnore("precos_insumos_mensal", priceFragments.reduce(_ unionByName _))
      if (custoFragments.nonEmpty)
        inserted("custos_composicoes_mensal") =
          store.appendIgnore("custos_composicoes_mensal", custoFragments.reduce(_ unionByName _))
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
        publishCatalog("insumos", Schemas.ItemType.Insumo, insumoRows, details,
            Seq("composicao_insumos" -> "insumo_filho_codigo"),
            cfg("PLACEHOLDER_INSUMO_DESC"), log)
          .foreach(inserted("insumos") = _)
        publishCatalog("composicoes", Schemas.ItemType.Composicao, analitico.map(_._1), details,
            Seq("composicao_subcomposicoes" -> "composicao_filho_codigo",
              "composicao_insumos" -> "composicao_pai_codigo",
              "composicao_subcomposicoes" -> "composicao_pai_codigo"),
            cfg("PLACEHOLDER_COMPOSICAO_DESC"), log)
          .foreach(inserted("composicoes") = _)
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
    // cached: the count and the write share one evaluation
    val state = Lifecycle.syncStatus(placeholders.fold(merged)(merged.unionByName),
      log, tipo, cfg("DEACTIVATION_KEYWORD")).cache()
    try {
      val added = state.filter(col("__new")).count()
      store.overwrite(table, state.drop("__new"))
      Option.when(fresh.nonEmpty || added > 0)(added)
    } finally state.unpersist()
  }
}
