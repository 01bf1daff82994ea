package graft.query

import org.apache.logging.log4j.LogManager
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

import graft.model.Schemas
import graft.ops.TreeExplode
import graft.store.TableStore

/** The documented downstream query surface
  * (`/root/reference/docs/DataModel.md:372-401`, SURVEY §3 E3) as Spark
  * programs over the warehouse. Facts are month/uf-keyed → lookups prune
  * to single partitions once the table is laid out by `data_referencia`.
  *
  * The catalog data behind a read changes once a month, so two memos
  * keep what reads need of it, each for one table snapshot at a time
  * ([[SnapshotMemo]]). A snapshot is the set of data files a table read
  * sees; any rewrite of the table writes new part-file names, so it
  * invalidates the memo, and the next call builds again. Only the latest
  * entry of each memo is held.
  *
  * '''Status''': `codigo → status` of the `composicoes` snapshot. The
  * first [[custoComposicao]] with the status join per catalog snapshot
  * pays one collect of the catalog's `(codigo, status)` pairs (one Spark
  * job), broadcast once to the executors; every lookup then adds the
  * status to its filtered fact rows without a join.
  *
  * '''Closure''': tree and roll-up reads are answered from the closure
  * of the current edge snapshot: `(root, node, eff_coeff)` for every root
  * (every distinct `composicao_pai_codigo`), from one [[TreeExplode]]
  * pass over the unified edges. It is built in this process on the first
  * [[estrutura]] or [[custoRolledUp]] call for a snapshot — that call
  * pays the build, a few seconds on a SINAPI-sized month — and is kept,
  * localCheckpoint'ed in the block store, for later calls. Its snapshot
  * is the files of `composicao_insumos` and `composicao_subcomposicoes`
  * together.
  */
object Queries {

  /** GET /custo_composicao — point lookup with optional status join
    * (`docs/DataModel.md:376-384`). The status comes from the [[Status]]
    * memo, so the lookup runs one job with no exchange and no broadcast
    * of its own. Its rows, columns and nullable `status` are those of a
    * left join on `codigo` (the catalog's key): a code the catalog lacks
    * reads `null`. */
  def custoComposicao(store: TableStore, codigo: Int, uf: String,
                      dataRef: java.sql.Date, regime: String,
                      checkStatus: Boolean = true): DataFrame = {
    val custos = store.read("custos_composicoes_mensal")
      .filter(col("composicao_codigo") === codigo && col("uf") === uf &&
        col("data_referencia") === dataRef && col("regime") === regime)
    if (!checkStatus) custos
    else custos.withColumn("status", Status(store)(col("composicao_codigo")))
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
    * sum effective-coefficient × price (SURVEY §2.4 note + §7.4). One
    * root's priced leaves are a few rows, so they are gathered into one
    * partition ahead of the global sum, which then needs no exchange. */
  def custoRolledUp(store: TableStore, codigo: Int, uf: String,
                    dataRef: java.sql.Date, regime: String): DataFrame = {
    val tree = estrutura(store, codigo)
    val prices = store.read("precos_insumos_mensal")
      .filter(col("uf") === uf && col("data_referencia") === dataRef &&
        col("regime") === regime)
      .select(col("insumo_codigo"), col("preco_mediano"))
    tree.join(prices, tree("node") === prices("insumo_codigo")).coalesce(1)
      .agg(sum((col("eff_coeff") * col("preco_mediano")).cast(Schemas.money))
        .as("custo_total"))
  }

  /** GET /insumo/{codigo}/historico — filtered ordered scan of the
    * immutable maintenance log (`docs/DataModel.md:393-401`). One item's
    * history is a handful of rows, so they are sorted in one partition:
    * one partition is globally ordered by its sort alone, without the
    * range-sampling job and the exchange of a global sort. */
  def historico(store: TableStore, codigo: Int, tipoItem: String): DataFrame =
    store.read("manutencoes_historico")
      .filter(col("item_codigo") === codigo && col("tipo_item") === tipoItem)
      .coalesce(1)
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

  /** One table snapshot: the data files a DataFrame over the store reads.
    * They are fixed when the DataFrame is created, and every write of a
    * table gives its part-files new names (a per-write UUID), so a value
    * built from that DataFrame is by construction the value of that
    * snapshot. */
  private final case class Snapshot(spark: SparkSession, root: String, files: Seq[String])

  /** A single-entry memo keyed by [[Snapshot]]: it holds the value built
    * for the last snapshot asked for, the one the DataFrame `reads` sees.
    * The value is built on first use under a double-checked lock, so
    * concurrent first calls build it once. Callers read their tables
    * before calling, since a store subclass's `read` may call back into
    * [[Queries]]; under the lock only `build` runs. A `build` that throws
    * leaves the memo as it was, and the next call builds again. The
    * replaced value is dropped, not freed: a DataFrame handed out earlier
    * may still read it, and the ContextCleaner frees its blocks once
    * nothing does. */
  private final class SnapshotMemo[V] {
    @volatile private var held: Option[(Snapshot, V)] = None

    def apply(store: TableStore, reads: DataFrame)(build: => V): V = {
      val snap = Snapshot(store.spark, store.root, reads.inputFiles.sorted.toSeq)
      def hit = held.collect { case (s, v) if s == snap => v }
      hit.getOrElse {
        synchronized {
          hit.getOrElse {
            val built = build
            held = Some(snap -> built)
            built
          }
        }
      }
    }

    def resident: Option[V] = held.map(_._2)
  }

  /** The status memo: a function of a composition code giving its
    * status in the current `composicoes` snapshot, null for a code the
    * catalog lacks. The broadcast `status` join it replaces collected
    * the same catalog rows on every lookup. */
  private[graft] object Status {
    private val memo = new SnapshotMemo[UserDefinedFunction]

    def apply(store: TableStore): UserDefinedFunction = {
      val catalog = store.read("composicoes").select(col("codigo"), col("status"))
      memo(store, catalog) {
        val byCode = store.spark.sparkContext.broadcast(
          catalog.collect().map(r => r.getInt(0) -> r.getString(1)).toMap)
        udf((codigo: Int) => byCode.value.getOrElse(codigo, null))
      }
    }
  }

  /** The closure memo: the closure of the current edge snapshot, or None
    * when the graph has a cycle or is deeper than [[TreeExplode]]'s
    * bound. Only a cycle or the depth bound (TreeExplode's
    * IllegalStateException) is remembered; any other failure propagates
    * and the next call builds again. */
  private[graft] object Closure {
    private val memo = new SnapshotMemo[Option[DataFrame]]

    def apply(store: TableStore): Option[DataFrame] = {
      val unified = edges(store)
      memo(store, unified) {
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
      }
    }

    /** The held closure, if its build succeeded. */
    def resident: Option[DataFrame] = memo.resident.flatten
  }
}
