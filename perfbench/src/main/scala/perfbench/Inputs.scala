package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.store.TableStore

/** Writes a model month as the workbooks Caixa publishes, and seeds a
  * warehouse with the state after a given month. */
object Inputs {
  import Sinapi._

  private def mm(m: Int) = f"${m + 1}%02d"

  private def money(cents: Long): String = BigDecimal(cents, 2).toString

  private def ghostDescription(code: Int): String = s"ITEM NÃO CADASTRADO $code"

  /** The reference workbook (price, cost and structure sheets) and the
    * maintenance workbook of month m; returns the cell count written. */
  def writeWorkbooks(model: Sinapi, m: Int, dir: Path): Long = {
    Files.createDirectories(dir)
    var cells = 0L
    def row(emit: Seq[Cell] => Unit)(cs: Seq[Cell]): Unit = { cells += cs.size; emit(cs) }
    val v = model.values
    val ref = new Xlsx(dir.resolve(s"SINAPI_Referencia_2025_${mm(m)}.xlsx"))
    try {
      Regimes.zipWithIndex.foreach { case ((precos, _, regime), r) =>
        ref.sheet(precos) { emit =>
          val out = row(emit) _
          out(Seq(Cell.Text("SINAPI - Preços de Insumos")))
          out(Seq(Cell.Text(s"Mês de referência: ${mm(m)}/2025 - $regime")))
          out(Nil)
          out(Seq("Código do Insumo", "Descrição do Insumo", "Unidade").map(Cell.Text) ++
            Ufs.map(Cell.Text))
          model.insActive(m).foreach { c =>
            out(Seq(Cell.Num(c.toString), Cell.Text(model.describe(c, insumo = true)),
              Cell.Text(model.unit(c))) ++
              Ufs.indices.map(u => v.priceCents(c, u, r, m).fold[Cell](Cell.Blank)(p => Cell.Num(money(p)))))
          }
        }
      }
      Regimes.zipWithIndex.foreach { case ((_, custos, regime), r) =>
        ref.sheet(custos) { emit =>
          val out = row(emit) _
          out(Seq(Cell.Text("SINAPI - Custos de Composições - Sintético")))
          out(Seq(Cell.Text(s"Mês de referência: ${mm(m)}/2025 - $regime")))
          out(Seq.fill(3)(Cell.Blank) ++ Ufs.map(Cell.Text))
          out(Seq("Código da Composição", "Descrição da Composição", "Unidade").map(Cell.Text) ++
            Ufs.map(_ => Cell.Text("Custo Total")))
          model.compActive(m).zipWithIndex.foreach { case (c, i) =>
            out(Seq(Cell.Formula(s"HIPERLINK(C${i + 5}),($c)", c.toString),
              Cell.Text(model.describe(c, insumo = false)), Cell.Text(model.unit(c))) ++
              Ufs.indices.map(u => v.costCents(c, u, r, m).fold[Cell](Cell.Blank)(p => Cell.Num(money(p)))))
          }
        }
      }
      val ghosts = (model.insGhosts(m) ++ model.compGhosts(m)).toSet
      ref.sheet("Analítico") { emit =>
        val out = row(emit) _
        out(Seq(Cell.Text("SINAPI - Composições Analíticas")))
        out(Nil)
        out(Seq("Código da Composição", "Tipo Item", "Código do Item", "Coeficiente",
          "Descrição", "Unidade").map(Cell.Text))
        val byParent = model.edges(m).groupBy(_.parent)
        model.compActive(m).foreach { p =>
          out(Seq(Cell.Num(p.toString), Cell.Blank, Cell.Blank, Cell.Blank,
            Cell.Text(model.describe(p, insumo = false)), Cell.Text(model.unit(p))))
          val kids = byParent.getOrElse(p, Nil).map { e =>
            Seq(Cell.Num(p.toString), Cell.Text(if (e.insumo) Insumo else Composicao),
              Cell.Num(e.child.toString),
              Cell.Text(e.coef.bigDecimal.setScale(4).toPlainString.replace('.', ',')),
              Cell.Text(if (ghosts(e.child)) ghostDescription(e.child) else model.describe(e.child, e.insumo)),
              Cell.Text(model.unit(e.child)))
          }
          kids.foreach(out)
          // a repeated child row, as real sheets carry: the load keeps the first
          if (kids.nonEmpty && v.hash(p, 19) % 50 == 0) out(kids.head)
        }
      }
    } finally ref.close()

    val manut = new Xlsx(dir.resolve(s"SINAPI_Manutencoes_2025_${mm(m)}.xlsx"))
    try manut.sheet("Manutenções") { emit =>
      val out = row(emit) _
      out(Seq(Cell.Text("SINAPI - Relatório de Manutenções")))
      out(Seq("Referência", "Tipo", "Código", "Descrição", "Manutenção").map(Cell.Text))
      // the report covers the previous month too; those rows are already loaded
      model.events.filter(e => e.month == m || e.month == m - 1).foreach { e =>
        out(Seq(Cell.Text(s"${mm(e.month)}/2025"), Cell.Text(e.tipo), Cell.Num(e.code.toString),
          Cell.Text(model.describe(e.code, e.tipo == Insumo)), Cell.Text(e.kind)))
      }
    } finally manut.close()
    cells
  }

  /** Seeds `store` with the warehouse as it stands after loading months
    * 0..upTo, one `TableStore.overwrite` per table. */
  def seed(spark: SparkSession, store: TableStore, model: Sinapi, upTo: Int): Unit = {
    import spark.implicits._
    val months = 0 to upTo
    val insDead = months.flatMap(model.insDead).toSet
    val compDead = months.flatMap(model.compDead).toSet
    def catalog(active: Int => Seq[Int], ghosts: Int => Seq[Int], dead: Set[Int], insumo: Boolean) = {
      val ghost = months.flatMap(ghosts).toSet
      months.flatMap(k => active(k) ++ ghosts(k)).distinct.map { c =>
        (c, if (ghost(c)) ghostDescription(c) else model.describe(c, insumo), model.unit(c),
          if (dead(c)) "DESATIVADO" else "ATIVO")
      }.toDF("codigo", "descricao", "unidade", "status")
    }
    val nullString = lit(null).cast("string")
    store.overwrite("insumos",
      catalog(model.insActive, model.insGhosts, insDead, insumo = true)
        .withColumn("classificacao", nullString))
    store.overwrite("composicoes",
      catalog(model.compActive, model.compGhosts, compDead, insumo = false)
        .withColumn("grupo", nullString))

    // (code, month) pairs are listed here; the 81 cells of each pair are
    // computed by Spark tasks with the model's own value function.
    val values = model.values
    val cellKeys = (for (u <- Ufs.indices; r <- Regimes.indices) yield (u, r)).toDF("u", "r")
    def facts(active: Int => Seq[Int], cents: (Values, Int, Int, Int, Int) => Option[Long]): DataFrame = {
      val cell = udf((c: Int, u: Int, r: Int, k: Int) => cents(values, c, u, r, k).getOrElse(-1L))
      months.flatMap(k => active(k).map(c => (k, c))).toDF("k", "c")
        .crossJoin(cellKeys)
        .withColumn("cents", cell(col("c"), col("u"), col("r"), col("k")))
        .filter(col("cents") >= 0)
        .select(col("c").as("codigo"), element_at(typedLit(Ufs), col("u") + 1).as("uf"),
          add_months(lit(Sinapi.date(0)), col("k")).as("data_referencia"),
          element_at(typedLit(Regimes.map(_._3)), col("r") + 1).as("regime"),
          (col("cents").cast(DecimalType(18, 0)) / 100).as("valor"))
    }
    store.overwrite("precos_insumos_mensal",
      facts(model.insActive, (v, c, u, r, k) => v.priceCents(c, u, r, k))
        .withColumnsRenamed(Map("codigo" -> "insumo_codigo", "valor" -> "preco_mediano")))
    store.overwrite("custos_composicoes_mensal",
      facts(model.compActive, (v, c, u, r, k) => v.costCents(c, u, r, k))
        .withColumnsRenamed(Map("codigo" -> "composicao_codigo", "valor" -> "custo_total")))

    val edges = model.edges(upTo)
    store.overwrite("composicao_insumos", edges.filter(_.insumo)
      .map(e => (e.parent, e.child, e.coef)).toDF("composicao_pai_codigo", "insumo_filho_codigo", "coeficiente"))
    store.overwrite("composicao_subcomposicoes", edges.filterNot(_.insumo)
      .map(e => (e.parent, e.child, e.coef)).toDF("composicao_pai_codigo", "composicao_filho_codigo", "coeficiente"))
    store.overwrite("manutencoes_historico", model.events.filter(_.month <= upTo)
      .map(e => (e.code, e.tipo, Sinapi.date(e.month), e.kind, model.describe(e.code, e.tipo == Insumo)))
      .toDF("item_codigo", "tipo_item", "data_referencia", "tipo_manutencao", "descricao_item"))
  }
}
