package perfbench

import java.sql.Date

import scala.collection.mutable

/** Seeded SINAPI-shaped warehouse history: catalogs that churn month over
  * month (new codes, `DESATIVAÇÃO` events, child codes missing from the
  * catalogs), monthly insumo prices and composition costs for 27 UFs x 3
  * regimes, and shallow composition trees (depth <= 4, so rolled-up costs
  * stay far inside `Decimal(18,6)`).
  *
  * Everything is a pure function of the seed: the workbook writer, the
  * warehouse seeder and the truth the checks compare against all read the
  * same model. Insumo and composition codes come from disjoint ranges,
  * because `TreeExplode` keys tree nodes by code alone.
  */
final class Sinapi(val seed: Long, val newMonth: Int) {
  import Sinapi._

  val months: Range = 0 to newMonth

  private val rng = new scala.util.Random(seed)

  private def codes(lo: Int, hi: Int, n: Int): IndexedSeq[Int] = {
    val out = mutable.LinkedHashSet.empty[Int]
    while (out.size < n) out += lo + rng.nextInt(hi - lo)
    out.toIndexedSeq
  }

  private val insPool = codes(100, 99999, NIns + newMonth * NewIns + months.size * GhostIns)
  private val compPool = codes(100000, 999999, NComp + newMonth * NewComp + months.size * GhostComp)

  /** Codes first published in month m (month 0 holds the initial catalog). */
  val insBorn: IndexedSeq[IndexedSeq[Int]] = months.map(m =>
    if (m == 0) insPool.take(NIns) else insPool.slice(NIns + (m - 1) * NewIns, NIns + m * NewIns))
  val compBorn: IndexedSeq[IndexedSeq[Int]] = months.map(m =>
    if (m == 0) compPool.take(NComp) else compPool.slice(NComp + (m - 1) * NewComp, NComp + m * NewComp))

  /** Children referenced by month m's structure but never published in a
    * catalog: the pipeline must create placeholder rows for them. */
  val insGhosts: IndexedSeq[IndexedSeq[Int]] = months.map { m =>
    val from = NIns + newMonth * NewIns + m * GhostIns; insPool.slice(from, from + GhostIns)
  }
  val compGhosts: IndexedSeq[IndexedSeq[Int]] = months.map { m =>
    val from = NComp + newMonth * NewComp + m * GhostComp; compPool.slice(from, from + GhostComp)
  }

  private def evolve(born: IndexedSeq[IndexedSeq[Int]], deact: Int)
      : (IndexedSeq[IndexedSeq[Int]], IndexedSeq[IndexedSeq[Int]]) = {
    val active = mutable.ArrayBuffer.empty[IndexedSeq[Int]]
    val dead = mutable.ArrayBuffer.empty[IndexedSeq[Int]]
    months.foreach { m =>
      val prev = if (m == 0) IndexedSeq.empty[Int] else active(m - 1)
      val gone = if (m == 0) IndexedSeq.empty[Int] else rng.shuffle(prev).take(deact).sorted
      dead += gone
      active += (prev.filterNot(gone.toSet) ++ born(m)).sorted
    }
    (active.toIndexedSeq, dead.toIndexedSeq)
  }

  /** Sorted codes published in month m, and codes deactivated in month m
    * (a deactivated code leaves the sheets and never comes back). */
  val (insActive, insDead) = evolve(insBorn, DeactIns)
  val (compActive, compDead) = evolve(compBorn, DeactComp)

  /** Maintenance log, one event per code per month. */
  val events: IndexedSeq[Event] = months.flatMap { m =>
    val dead = insDead(m).map(c => Event(c, Insumo, m, Deactivation)) ++
      compDead(m).map(c => Event(c, Composicao, m, Deactivation))
    val born = if (m == 0) Nil else
      insBorn(m).map(c => Event(c, Insumo, m, "INCLUSÃO")) ++
        compBorn(m).map(c => Event(c, Composicao, m, "INCLUSÃO"))
    val touched = (dead ++ born).map(_.code).toSet
    val changed =
      rng.shuffle(insActive(m).filterNot(touched)).take(Changes).map(c => Event(c, Insumo, m, "ALTERAÇÃO DE PREÇO")) ++
        rng.shuffle(compActive(m).filterNot(touched)).take(Changes)
          .map(c => Event(c, Composicao, m, "ALTERAÇÃO DE COEFICIENTE"))
    dead ++ born ++ changed
  }

  val values = new Values(seed)

  /** Tree depth level of a composition: subcompositions of a level-L
    * composition have a level below L, so no path is longer than 4. */
  def level(c: Int): Int = {
    val u = values.unit(c, 11)
    if (u < 0.45) 0 else if (u < 0.75) 1 else if (u < 0.92) 2 else 3
  }

  /** Month m's structure: (parent, child, isInsumo, coefficient), each
    * (parent, child, kind) once, ghosts included. */
  def edges(m: Int): IndexedSeq[Edge] = {
    val ins = insActive(m)
    val byLevel = compActive(m).groupBy(level).withDefaultValue(IndexedSeq.empty)
    val out = mutable.ArrayBuffer.empty[Edge]
    compActive(m).foreach { p =>
      val k = 2 + (values.hash(p, 12) % 7).toInt
      val kids = (0 until k).map(i => ins((values.hash(p, 13, i) % ins.size).toInt)).distinct
      kids.foreach(c => out += Edge(p, c, insumo = true, values.insumoCoef(p, c)))
      val lower = (0 until level(p)).flatMap(byLevel)
      if (lower.nonEmpty) {
        val s = 1 + (values.hash(p, 14) % 3).toInt
        (0 until s).map(i => lower((values.hash(p, 15, i) % lower.size).toInt)).distinct
          .foreach(c => out += Edge(p, c, insumo = false, values.subCoef(p, c)))
      }
    }
    val parents = compActive(m)
    def parentOf(c: Int) = parents((values.hash(c, 16) % parents.size).toInt)
    insGhosts(m).foreach(c => out += Edge(parentOf(c), c, insumo = true, values.insumoCoef(0, c)))
    compGhosts(m).foreach(c => out += Edge(parentOf(c), c, insumo = false, values.subCoef(0, c)))
    out.toIndexedSeq
  }

  /** Warehouse row counts and deactivated codes after loading months
    * 0..m in order. */
  def truthAfter(m: Int): Truth = {
    val upTo = 0 to m
    val e = edges(m)
    def cells(active: Int => IndexedSeq[Int], v: (Int, Int, Int, Int) => Option[Long]) =
      upTo.map(k => active(k).map(c =>
        (0 until Ufs.size).map(u => Regimes.indices.count(r => v(c, u, r, k).nonEmpty)).sum.toLong).sum).sum
    Truth(
      counts = Map(
        "insumos" -> upTo.flatMap(k => insActive(k) ++ insGhosts(k)).distinct.size.toLong,
        "composicoes" -> upTo.flatMap(k => compActive(k) ++ compGhosts(k)).distinct.size.toLong,
        "precos_insumos_mensal" -> cells(insActive, values.priceCents),
        "custos_composicoes_mensal" -> cells(compActive, values.costCents),
        "composicao_insumos" -> e.count(_.insumo).toLong,
        "composicao_subcomposicoes" -> e.count(!_.insumo).toLong,
        "manutencoes_historico" -> events.count(_.month <= m).toLong),
      deactivatedInsumos = upTo.flatMap(insDead).toSet,
      deactivatedComposicoes = upTo.flatMap(compDead).toSet)
  }

  def describe(code: Int, insumo: Boolean): String = {
    val words = if (insumo) InsumoWords else ComposicaoWords
    s"${words((values.hash(code, 17) % words.size).toInt)} $code"
  }

  def unit(code: Int): String = Units((values.hash(code, 18) % Units.size).toInt)
}

/** Cell values, pure functions of (seed, keys); serializable so Spark
  * tasks can generate warehouse rows in parallel. */
final class Values(seed: Long) extends Serializable {

  def hash(keys: Long*): Long = {
    var h = seed * 0x9E3779B97F4A7C15L
    keys.foreach { k => h = Sinapi.mix(h ^ (k + 0x632BE59BD9B4E019L)) }
    h >>> 1
  }

  def unit(keys: Long*): Double = (hash(keys: _*) >>> 10) / (1L << 53).toDouble

  /** Median insumo price in cents, or None for a blank cell. */
  def priceCents(code: Int, uf: Int, regime: Int, month: Int): Option[Long] =
    if (unit(code, uf, regime, month, 1) < 0.01) None
    else {
      val base = 0.5 + 4999.5 * math.pow(unit(code, 2), 3)
      Some(math.round(100 * base * (0.85 + 0.3 * unit(uf, 3)) *
        (1.0 - 0.07 * regime) * (1.0 + 0.004 * month)))
    }

  /** Composition total cost in cents, or None for a blank cell. */
  def costCents(code: Int, uf: Int, regime: Int, month: Int): Option[Long] =
    if (unit(code, uf, regime, month, 4) < 0.01) None
    else {
      val base = 5.0 + 20000.0 * math.pow(unit(code, 5), 3)
      Some(math.round(100 * base * (0.85 + 0.3 * unit(uf, 6)) *
        (1.0 - 0.05 * regime) * (1.0 + 0.003 * month)))
    }

  def insumoCoef(parent: Int, child: Int): BigDecimal =
    BigDecimal(math.round(10000 * (0.01 + 20 * math.pow(unit(parent, child, 7), 2)))) / 10000

  def subCoef(parent: Int, child: Int): BigDecimal =
    BigDecimal(math.round(10000 * (0.1 + 2.9 * unit(parent, child, 8)))) / 10000
}

final case class Event(code: Int, tipo: String, month: Int, kind: String)
final case class Edge(parent: Int, child: Int, insumo: Boolean, coef: BigDecimal)
final case class Truth(counts: Map[String, Long], deactivatedInsumos: Set[Int],
                       deactivatedComposicoes: Set[Int])

object Sinapi {
  // Catalog sizes (NIns, NComp) follow the benchmark's specification.
  // The churn counts below, the fan-out in `edges`, the level shares in
  // `level` and the Zipf exponent of `warehouse_reads` are assumptions,
  // not taken from published SINAPI data; perfbench/README.md lists
  // which metrics each of them drives.
  val NIns = 5000
  val NComp = 8000
  val NewIns = 25
  val NewComp = 40
  val DeactIns = 15
  val DeactComp = 20
  val GhostIns = 12
  val GhostComp = 8
  val Changes = 30

  val Insumo = "INSUMO"
  val Composicao = "COMPOSICAO"
  val Deactivation = "DESATIVAÇÃO"

  val Ufs: IndexedSeq[String] = IndexedSeq("AC", "AL", "AM", "AP", "BA", "CE", "DF", "ES",
    "GO", "MA", "MG", "MS", "MT", "PA", "PB", "PE", "PI", "PR", "RJ", "RN", "RO", "RR",
    "RS", "SC", "SE", "SP", "TO")

  /** (price sheet, cost sheet, regime), in the pipeline's sheet priority. */
  val Regimes: IndexedSeq[(String, String, String)] = IndexedSeq(
    ("ISD", "CSD", "NAO_DESONERADO"), ("ICD", "CCD", "DESONERADO"), ("ISE", "CSE", "SEM_ENCARGOS"))

  val Units: IndexedSeq[String] = IndexedSeq("UN", "M", "M2", "M3", "KG", "H", "L")
  val InsumoWords: IndexedSeq[String] = IndexedSeq("AREIA MÉDIA", "CIMENTO CP-II", "AÇO CA-50",
    "TIJOLO CERÂMICO", "TUBO PVC ÁGUA FRIA", "ELETRICISTA (HORISTA)", "CAL HIDRATADA",
    "CONCRETO USINADO FCK 25", "TELHA DE FIBROCIMENTO", "PEDREIRO COM ENCARGOS")
  val ComposicaoWords: IndexedSeq[String] = IndexedSeq("ALVENARIA DE VEDAÇÃO", "CHAPISCO",
    "EMBOÇO/MASSA ÚNICA", "CONTRAPISO", "ESTRUTURA DE CONCRETO", "INSTALAÇÃO HIDRÁULICA",
    "PINTURA LÁTEX ACRÍLICA", "ESCAVAÇÃO MANUAL DE VALA")

  /** (node, summed effective coefficient) of every node under `root`,
    * given a month's edges by parent: the answer `Queries.estrutura` must
    * give. */
  def tree(root: Int, children: Map[Int, Seq[Edge]]): Map[Int, BigDecimal] = {
    val acc = mutable.Map.empty[Int, BigDecimal].withDefaultValue(BigDecimal(0))
    def walk(p: Int, mult: BigDecimal): Unit =
      children.getOrElse(p, Nil).foreach { e =>
        val eff = mult * e.coef
        acc(e.child) += eff
        if (!e.insumo) walk(e.child, eff)
      }
    walk(root, BigDecimal(1))
    acc.toMap
  }

  def date(month: Int): Date = Date.valueOf(f"2025-${month + 1}%02d-01")

  def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}
