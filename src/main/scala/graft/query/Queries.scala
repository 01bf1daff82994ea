package graft.query

import org.apache.logging.log4j.LogManager
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Schemas
import graft.ops.TreeExplode
import graft.store.TableStore

/** The documented downstream query surface
  * (`/root/reference/docs/DataModel.md:372-401`, SURVEY §3 E3) as Spark
  * programs over the warehouse. Physical notes: catalogs are
  * dimension-sized → broadcast; facts are month/uf-keyed → lookups prune
  * to single partitions once the table is laid out by `data_referencia`.
  *
  * Tree and roll-up reads are answered from the '''closure''' of the
  * current edge snapshot: `(root, node, eff_coeff)` for every root (every
  * distinct `composicao_pai_codigo`), from one [[TreeExplode]] pass over
  * the unified edges. The edges change once a month, so one build serves
  * every tree query until then. The closure is built in this process on
  * the first [[estrutura]] or [[custoRolledUp]] call for a snapshot — that
  * call pays the build, a few seconds on a SINAPI-sized month — and is
  * kept, localCheckpoint'ed in the block store, for later calls. A
  * snapshot is the set of data files of `composicao_insumos` and
  * `composicao_subcomposicoes`; any rewrite of either table writes new
  * part-file names, so it invalidates the closure, and the next call
  * builds a new one. Only the latest closure is held.
  */
object Queries {

  /** GET /custo_composicao — point lookup with optional status join
    * (`docs/DataModel.md:376-384`). */
  def custoComposicao(store: TableStore, codigo: Int, uf: String,
                      dataRef: java.sql.Date, regime: String,
                      checkStatus: Boolean = true): DataFrame = {
    val custos = store.read("custos_composicoes_mensal")
      .filter(col("composicao_codigo") === codigo && col("uf") === uf &&
        col("data_referencia") === dataRef && col("regime") === regime)
    if (!checkStatus) custos
    else custos.join(
      broadcast(store.read("composicoes").select(col("codigo"), col("status"))),
      custos("composicao_codigo") === col("codigo"), "left").drop("codigo")
  }

  /** GET /composicao/{codigo}/estrutura — recursive explosion of the
    * composition tree over the unified edge view
    * (`docs/DataModel.md:386-391`): the closure's rows for `codigo`, with
    * the same rows and schema the per-root BFS returns. When the
    * all-roots build failed for this snapshot (a cycle or the depth
    * bound anywhere in the graph), this root is exploded on its own, so
    * a root that reaches no cycle still answers. */
  def estrutura(store: TableStore, codigo: Int): DataFrame =
    Closure(store) match {
      case Some(closure) =>
        closure.filter(col("root") === codigo)
          .select(lit(codigo).as("root"), col("node"), col("eff_coeff"))
      case None =>
        TreeExplode.explode(edges(store), store.spark.range(1).select(lit(codigo).as("root")))
    }

  /** Rolled-up composition cost: explode to leaves, join insumo prices,
    * sum effective-coefficient × price (SURVEY §2.4 note + §7.4). */
  def custoRolledUp(store: TableStore, codigo: Int, uf: String,
                    dataRef: java.sql.Date, regime: String): DataFrame = {
    val tree = estrutura(store, codigo)
    val prices = store.read("precos_insumos_mensal")
      .filter(col("uf") === uf && col("data_referencia") === dataRef &&
        col("regime") === regime)
      .select(col("insumo_codigo"), col("preco_mediano"))
    tree.join(prices, tree("node") === prices("insumo_codigo"))
      .agg(sum((col("eff_coeff") * col("preco_mediano")).cast(Schemas.money))
        .as("custo_total"))
  }

  /** GET /insumo/{codigo}/historico — filtered ordered scan of the
    * immutable maintenance log (`docs/DataModel.md:393-401`). */
  def historico(store: TableStore, codigo: Int, tipoItem: String): DataFrame =
    store.read("manutencoes_historico")
      .filter(col("item_codigo") === codigo && col("tipo_item") === tipoItem)
      .orderBy(col("data_referencia").desc)

  /** The unified edge list (parent, child, coeff) of both edge tables. */
  private def edges(store: TableStore): DataFrame = {
    val ins = store.read("composicao_insumos").select(
      col("composicao_pai_codigo").as("parent"),
      col("insumo_filho_codigo").as("child"), col("coeficiente").as("coeff"))
    val subs = store.read("composicao_subcomposicoes").select(
      col("composicao_pai_codigo").as("parent"),
      col("composicao_filho_codigo").as("child"), col("coeficiente").as("coeff"))
    ins.unionByName(subs)
  }

  /** Block-store ids backing the held closure, which a between-queries
    * release must keep: a localCheckpoint cannot be recomputed. */
  private[graft] def protectedRddIds: Set[Int] =
    Closure.resident.toSeq.flatMap(_.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }).toSet

  /** The single-entry closure memo. */
  private[graft] object Closure {

    /** One edge snapshot: the data files the edge DataFrame reads. */
    private final case class Snapshot(spark: SparkSession, root: String, files: Seq[String])

    /** The held snapshot and its closure; a None closure records that
      * the all-roots build hit a cycle or the depth bound. */
    @volatile private var held: Option[(Snapshot, Option[DataFrame])] = None

    /** The closure of `store`'s current edge snapshot, built on first
      * use, or None when the graph has a cycle or is deeper than
      * [[TreeExplode]]'s bound.
      *
      * The snapshot is the set of files the edge DataFrame reads, fixed
      * when the DataFrame is created; every write of a table gives its
      * part-files new names (a per-write UUID), so any rewrite of either
      * edge table changes it, and the closure built from that DataFrame
      * is by construction the closure of that snapshot. The edges are
      * read before taking the lock, since a store subclass's `read` may
      * call back into [[Queries]]; under the lock only the build (a
      * [[TreeExplode]] pass) runs. Only a cycle or the depth bound
      * (TreeExplode's IllegalStateException) is remembered; any other
      * failure propagates and the next call builds again. The replaced
      * closure is dropped, not unpersisted: a DataFrame handed out
      * earlier may still read it, and the ContextCleaner frees its
      * blocks once nothing does. */
    def apply(store: TableStore): Option[DataFrame] = {
      val unified = edges(store)
      val snap = Snapshot(store.spark, store.root, unified.inputFiles.sorted.toSeq)
      def hit = held.collect { case (s, c) if s == snap => c }
      hit.getOrElse {
        synchronized {
          hit.getOrElse {
            val built =
              try {
                val roots = unified.select(col("parent").as("root"))
                  .filter(col("root").isNotNull).distinct()
                Some(TreeExplode.explode(unified, roots))
              } catch {
                case e: IllegalStateException =>
                  LogManager.getLogger(getClass).warn(
                    s"edge closure not built, exploding each root on its own: ${e.getMessage}")
                  None
              }
            held = Some(snap -> built)
            built
          }
        }
      }
    }

    /** The held closure, if its build succeeded. */
    def resident: Option[DataFrame] = held.flatMap(_._2)
  }
}
