package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.config.EngineConfig
import graft.pipeline.PipelineETL
import graft.store.TableStore

/** Golden end-to-end run over SINAPI-shaped `;`-CSV fixtures
  * (FIXTURES.md §1): exercises header location, two-row cost headers,
  * comma decimals, coerce-drops, regime fan-out, dedup, placeholder
  * repair, deactivation sync, load policies and the run contract —
  * zero mocks (SURVEY §5 test plan item 2).
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def write(dir: Path, name: String, lines: String*): Unit =
    Files.write(dir.resolve(name), String.join("\n", lines: _*).getBytes("UTF-8"))

  private def fixtures(): String = {
    val dir = Paths.get(tmpDir("graft_staging"))
    write(dir, "ISD_202501.csv",
      "SINAPI - Preços de Insumos;;;;",
      ";;;;",
      "Código do Insumo;Descrição do Insumo;Unidade;SP;RJ",
      "1;AREIA MÉDIA;M3;120,50;130,00",
      "2;CIMENTO CP-II;KG;0,89;",
      "abc;LINHA INVÁLIDA;UN;1,00;1,00")
    write(dir, "ICD_202501.csv",
      "SINAPI - Preços de Insumos (desonerado);;;;",
      "Código do Insumo;Descrição do Insumo;Unidade;SP;RJ",
      "2;CIMENTO CP-II DESON;KG;0,80;0,85",
      "4;CAL HIDRATADA;KG;1,10;1,20")
    write(dir, "Analitico_202501.csv",
      "SINAPI - Composições Analítico;;;;;",
      "Código da Composição;Tipo Item;Código do Item;Coeficiente;Descrição;Unidade",
      "100;COMPOSICAO_PAI;;;ALVENARIA DE VEDAÇÃO;M2",
      "100;INSUMO;1;2,5;AREIA MÉDIA;M3",
      "100;INSUMO;1;2,5;AREIA MÉDIA;M3",
      "100;COMPOSICAO;200;1,0;CHAPISCO;M2",
      "100;COMPOSICAO;300;2,0;COMP FANTASMA;M2",
      "200;COMPOSICAO_PAI;;;CHAPISCO;M2",
      "200;INSUMO;2;3,0;CIMENTO CP-II;KG",
      "200;INSUMO;999;1,5;INSUMO FANTASMA;UN",
      "200;INSUMO;777;1,0;;")
    write(dir, "CSD_202501.csv",
      "SINAPI - Custos de Composições;;;;;;",
      ";;;SP;;RJ;",
      "Código da Composição;Descrição da Composição;Unidade;Custo Total;Outro;Custo Total;",
      "=SOMA(A1:B1),(100);ALVENARIA DE VEDAÇÃO;M2;1234,56;x;2000,00;",
      "garbage;LINHA INVÁLIDA;UN;1,00;y;2,00;",
      "=X(1),(200);CHAPISCO;M2;500,00;z;600,00;")
    write(dir, "Manutencoes_202501.csv",
      "SINAPI - Relatório de Manutenções;;;;",
      "Referência;Tipo;Código;Descrição;Manutenção",
      "01/2025;INSUMO;1;AREIA MÉDIA;ALTERAÇÃO DE DESCRIÇÃO",
      "01/2025;INSUMO;2;CIMENTO CP-II;ALTERAÇÃO DE PREÇO",
      "02/2025;Insumo;2;CIMENTO CP-II;DESATIVAÇÃO",
      "01/2025;COMPOSICAO;100;ALVENARIA;ALTERAÇÃO",
      "13/2025;INSUMO;3;DATA INVÁLIDA;ALTERAÇÃO",
      "02/2025;INSUMO;abc;CÓDIGO INVÁLIDO;ALTERAÇÃO")
    dir.toString
  }

  /** Counts the write calls (overwrite, upsert, append-ignore) per table;
    * the pipeline makes them from several threads at once. */
  private class CountingStore(root: String) extends TableStore(spark, root) {
    val writes = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    private def counted(table: String): Unit = writes.synchronized { writes(table) += 1 }
    override def overwrite(table: String, df: DataFrame): Unit = {
      counted(table); super.overwrite(table, df)
    }
    override def upsert(table: String, df: DataFrame, tiebreak: Seq[Column]): Long = {
      counted(table); super.upsert(table, df, tiebreak)
    }
    override def appendIgnore(table: String, df: DataFrame, tiebreak: Seq[Column]): Long = {
      counted(table); super.appendIgnore(table, df, tiebreak)
    }
  }

  /** Fails every append-ignore into `failing` before it writes. */
  private class FailingStore(root: String, failing: String) extends TableStore(spark, root) {
    override def appendIgnore(table: String, df: DataFrame, tiebreak: Seq[Column]): Long =
      if (table == failing) throw new IllegalStateException(s"injected failure writing $table")
      else super.appendIgnore(table, df, tiebreak)
  }

  /** Every row of every registered table, in a stable order. */
  private def tableRows(store: TableStore): Map[String, Seq[String]] =
    graft.model.Schemas.all.keys.map(t => t -> store.read(t).collect().map(_.toString).toSeq.sorted).toMap

  private def runOnce(): (TableStore, graft.pipeline.RunReport) = {
    val store = new TableStore(spark, tmpDir("graft_wh"))
    val pipeline = new PipelineETL(spark, store, EngineConfig.load(env = Map.empty))
    val report = pipeline.run(fixtures(), 2025, 1)
    (store, report)
  }

  test("golden run: all tables, placeholders, statuses, regimes, run contract") {
    val (store, report) = runOnce()
    assert(report.status == "SUCESSO", report)
    assert(report.sheetErrors.isEmpty, report.sheetErrors)

    // insumos: 1,2 from ISD (first-sheet-wins over ICD), 4 from ICD,
    // placeholders 999 (described from the sheet) and 777 (template).
    val ins = store.read("insumos")
      .select("codigo", "descricao", "status")
      .as[(Int, String, String)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(ins.keySet == Set(1, 2, 4, 999, 777))
    assert(ins(1)._1 == "AREIA MÉDIA")
    assert(ins(2)._1 == "CIMENTO CP-II") // ISD wins over ICD
    assert(ins(999)._1 == "INSUMO FANTASMA") // enriched from sheet details
    assert(ins(777)._1 == "INSUMO_DESCONHECIDO_777") // template fallback
    assert(ins(2)._2 == "DESATIVADO") // latest maintenance event wins
    assert(ins(1)._2 == "ATIVO")

    // composicoes: 100, 200 parents + placeholder 300.
    val comp = store.read("composicoes").select("codigo", "descricao")
      .as[(Int, String)].collect().toMap
    assert(comp.keySet == Set(100, 200, 300))
    assert(comp(300) == "COMP FANTASMA")

    // edges: dedup applied; both tipos split correctly.
    val edgeIns = store.read("composicao_insumos")
      .select(col("composicao_pai_codigo"), col("insumo_filho_codigo"),
        col("coeficiente").cast("string"))
      .as[(Int, Int, String)].collect().toSet
    assert(edgeIns == Set(
      (100, 1, "2.500000"), (200, 2, "3.000000"),
      (200, 999, "1.500000"), (200, 777, "1.000000")))
    val edgeSub = store.read("composicao_subcomposicoes")
      .select("composicao_pai_codigo", "composicao_filho_codigo")
      .as[(Int, Int)].collect().toSet
    assert(edgeSub == Set((100, 200), (100, 300)))

    // precos: ISD fan-out (null RJ dropped, invalid code dropped) +
    // ICD regime rows.
    val precos = store.read("precos_insumos_mensal")
      .select(col("insumo_codigo"), col("uf"), col("regime"),
        col("preco_mediano").cast("string"))
      .as[(Int, String, String, String)].collect().toSet
    assert(precos == Set(
      (1, "SP", "NAO_DESONERADO", "120.500000"),
      (1, "RJ", "NAO_DESONERADO", "130.000000"),
      (2, "SP", "NAO_DESONERADO", "0.890000"),
      (2, "SP", "DESONERADO", "0.800000"),
      (2, "RJ", "DESONERADO", "0.850000"),
      (4, "SP", "DESONERADO", "1.100000"),
      (4, "RJ", "DESONERADO", "1.200000")))
    assert(store.read("precos_insumos_mensal")
      .select(col("data_referencia").cast("string")).distinct()
      .as[String].head() == "2025-01-01")

    // custos: formula-code extraction + fused-header melt; garbage dropped.
    val custos = store.read("custos_composicoes_mensal")
      .select(col("composicao_codigo"), col("uf"), col("custo_total").cast("string"))
      .as[(Int, String, String)].collect().toSet
    assert(custos == Set(
      (100, "SP", "1234.560000"), (100, "RJ", "2000.000000"),
      (200, "SP", "500.000000"), (200, "RJ", "600.000000")))

    // maintenance log: invalid date/code rows coerce-dropped.
    assert(store.read("manutencoes_historico").count() == 4)

    // run contract (etl_pipeline.py:506-511) with EXACT affected-row
    // counts (database.py:270-280 rowcount parity): the run starts from
    // an empty warehouse, so each table's inserted count must equal its
    // final size — upsert consolidation + placeholder repair included.
    assert(report.recordsInserted("precos_insumos_mensal") == 7)
    assert(report.recordsInserted("custos_composicoes_mensal") == 4)
    assert(report.recordsInserted("manutencoes_historico") == 4)
    for (t <- Seq("insumos", "composicoes"))
      assert(report.recordsInserted(t) == store.read(t).count(),
        s"inexact inserted count for $t")
  }

  test("a monthly run publishes each catalog exactly once") {
    val store = new CountingStore(tmpDir("graft_wh"))
    store.createTables() // bootstrap writes are not the run's
    store.writes.clear()
    val report = new PipelineETL(spark, store, EngineConfig.load(env = Map.empty))
      .run(fixtures(), 2025, 1)
    assert(report.status == "SUCESSO", report)
    assert(store.writes("insumos") == 1, store.writes)
    assert(store.writes("composicoes") == 1, store.writes)
  }

  test("a failed load write fails the run, and a re-run converges on the golden end state") {
    val root = tmpDir("graft_wh")
    val staging = fixtures()
    val e = intercept[IllegalStateException](
      new PipelineETL(spark, new FailingStore(root, "custos_composicoes_mensal"),
        EngineConfig.load(env = Map.empty)).run(staging, 2025, 1))
    assert(e.getMessage == "injected failure writing custos_composicoes_mensal")
    val store = new TableStore(spark, root)
    // the phase's other writes finished before the failure surfaced
    assert(store.read("precos_insumos_mensal").count() == 7)
    val report = new PipelineETL(spark, store, EngineConfig.load(env = Map.empty))
      .run(staging, 2025, 1)
    assert(report.status == "SUCESSO", report)
    val (golden, _) = runOnce()
    assert(tableRows(store) == tableRows(golden))
  }

  test("maintenance-only month flips the deactivated code and nothing else") {
    val store = new CountingStore(tmpDir("graft_wh"))
    val pipeline = new PipelineETL(spark, store, EngineConfig.load(env = Map.empty))
    pipeline.run(fixtures(), 2025, 1)
    def catalogs() = Seq("insumos", "composicoes")
      .map(t => t -> store.read(t).collect().map(r => r.getInt(0) -> r).toMap).toMap
    val before = catalogs()
    assert(before("insumos")(1).getAs[String]("status") == "ATIVO")

    val dir = Paths.get(tmpDir("graft_staging_manut"))
    write(dir, "Manutencoes_202502.csv",
      "SINAPI - Relatório de Manutenções;;;;",
      "Referência;Tipo;Código;Descrição;Manutenção",
      "02/2025;INSUMO;1;AREIA MÉDIA;DESATIVAÇÃO")
    store.writes.clear()
    val report = pipeline.run(dir.toString, 2025, 2)
    assert(report.status == "SUCESSO", report)
    assert(report.recordsInserted == Map("manutencoes_historico" -> 1L))
    assert(store.writes("insumos") == 1 && store.writes("composicoes") == 1, store.writes)

    val after = catalogs()
    assert(after("insumos")(1).getAs[String]("status") == "DESATIVADO")
    assert(after("insumos") - 1 == before("insumos") - 1)
    assert(after("insumos")(1).toSeq.init == before("insumos")(1).toSeq.init)
    assert(after("composicoes") == before("composicoes"))
  }

  test("monthly re-run is idempotent (conflict policies hold)") {
    val store = new TableStore(spark, tmpDir("graft_wh"))
    val staging = fixtures()
    val pipeline = new PipelineETL(spark, store, EngineConfig.load(env = Map.empty))
    pipeline.run(staging, 2025, 1)
    val counts1 = graft.model.Schemas.all.keys
      .map(t => t -> store.read(t).count()).toMap
    val report2 = pipeline.run(staging, 2025, 1)
    val counts2 = graft.model.Schemas.all.keys
      .map(t => t -> store.read(t).count()).toMap
    assert(counts1 == counts2, s"re-run changed table sizes: $counts1 vs $counts2")
    assert(report2.status != "FALHA")
  }

  test("loaded warehouse passes every data-quality check (FK/PK/domain)") {
    val (store, report) = runOnce()
    assert(report.status == "SUCESSO")
    val bad = graft.ops.Quality.violations(store)
    assert(bad.isEmpty, s"violations: $bad")
  }

  test("quality checks detect seeded FK orphans and PK duplicates") {
    val store = new TableStore(spark, tmpDir("graft_wh_bad"))
    store.createTables()
    store.overwrite("composicao_insumos",
      Seq((100, 999, BigDecimal(1))) // neither 100 nor 999 exist
        .toDF("composicao_pai_codigo", "insumo_filho_codigo", "coeficiente"))
    store.overwrite("insumos",
      Seq((1, "A", "UN", null: String, "ATIVO"), (1, "A2", "UN", null: String, "WAT"))
        .toDF("codigo", "descricao", "unidade", "classificacao", "status"))
    val bad = graft.ops.Quality.violations(store).map(c => c.name -> c.violations).toMap
    assert(bad("fk edges.pai->composicoes") == 1)
    assert(bad("fk edges.filho->insumos") == 1)
    assert(bad("pk unique insumos") == 1)
    assert(bad("status domain insumos") == 1)
  }

  test("empty staging dir yields SUCESSO (SEM DADOS) with a run id") {
    val store = new TableStore(spark, tmpDir("graft_wh"))
    val report = new PipelineETL(spark, store, EngineConfig.load(env = Map.empty))
      .run(tmpDir("graft_staging_empty"), 2025, 1)
    assert(report.status == "SUCESSO (SEM DADOS)")
    assert(report.runId.length == 8)
    assert(report.phaseSeconds.keySet ==
      Set("preconvert", "bootstrap", "maintenance", "transform", "load", "repair_and_sync"))
  }

  test("second month accumulates facts, dims upsert, edges reload") {
    val store = new TableStore(spark, tmpDir("graft_wh"))
    val pipeline = new PipelineETL(spark, store, EngineConfig.load(env = Map.empty))
    pipeline.run(fixtures(), 2025, 1)

    val dir2 = Paths.get(tmpDir("graft_staging_m2"))
    write(dir2, "ISD_202502.csv",
      "Código do Insumo;Descrição do Insumo;Unidade;SP",
      "1;AREIA MÉDIA (NOVA);M3;125,00",
      "9;BRITA 1;M3;80,00")
    write(dir2, "Analitico_202502.csv",
      "Código da Composição;Tipo Item;Código do Item;Coeficiente;Descrição;Unidade",
      "100;COMPOSICAO_PAI;;;ALVENARIA DE VEDAÇÃO;M2",
      "100;INSUMO;9;4,0;BRITA 1;M3")
    val r2 = pipeline.run(dir2.toString, 2025, 2)
    assert(r2.status == "SUCESSO", r2)

    // facts: both months present (append-ignore keeps January)
    val months = store.read("precos_insumos_mensal")
      .select(col("data_referencia").cast("string")).distinct()
      .as[String].collect().toSet
    assert(months == Set("2025-01-01", "2025-02-01"))
    // dim upsert: description updated, new insumo present, old ones kept
    val ins = store.read("insumos").select("codigo", "descricao")
      .as[(Int, String)].collect().toMap
    assert(ins(1) == "AREIA MÉDIA (NOVA)")
    assert(ins(9) == "BRITA 1")
    assert(ins.contains(2))
    // edges: truncate-reload — only February's structure remains
    val edges = store.read("composicao_insumos")
      .select("composicao_pai_codigo", "insumo_filho_codigo")
      .as[(Int, Int)].collect().toSet
    assert(edges == Set((100, 9)))
  }

  test("all sheets failing and nothing loaded yields FALHA") {
    val dir = Paths.get(tmpDir("graft_staging_allbad"))
    write(dir, "ISD_202501.csv", "no header at all;;;", "1;2;3;4")
    val store = new TableStore(spark, tmpDir("graft_wh"))
    val report = new PipelineETL(spark, store, EngineConfig.load(env = Map.empty))
      .run(dir.toString, 2025, 1)
    assert(report.status == "FALHA", report)
    assert(report.sheetErrors.keySet == Set("ISD_202501.csv"))
  }

  test("per-sheet error isolation: a broken sheet doesn't kill the run") {
    val dir = Paths.get(tmpDir("graft_staging_bad"))
    write(dir, "ISD_202501.csv",
      "no header here at all;;;;",
      "1;2;3;4;5")
    write(dir, "ICD_202501.csv",
      "Código do Insumo;Descrição do Insumo;Unidade;SP",
      "7;CAL;KG;1,00")
    val store = new TableStore(spark, tmpDir("graft_wh"))
    val report = new PipelineETL(spark, store, EngineConfig.load(env = Map.empty))
      .run(dir.toString, 2025, 1)
    assert(report.sheetErrors.keySet == Set("ISD_202501.csv"))
    assert(report.status == "SUCESSO")
    assert(store.read("precos_insumos_mensal").count() == 1)
  }
}
