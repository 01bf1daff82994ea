package graft

import java.util.concurrent.{Callable, Executors}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.model.Schemas
import graft.ops.TreeExplode
import graft.query.Queries
import graft.store.TableStore

/** The documented downstream query surface (SURVEY §3 E3 — the
  * reference's REST patterns, docs/DataModel.md:372-401) against a tiny
  * hand-built warehouse:
  *   composition 100 = 2.5 × insumo 1 + 1.0 × composition 200
  *   composition 200 = 3.0 × insumo 2
  * The closure specs use a deeper DAG warehouse (`dag()`) and pin tree
  * and roll-up reads against the per-root BFS they replaced; the status
  * specs pin lookups against the catalog left join they replaced.
  */
class QueriesSpec extends SparkSpec {
  import spark.implicits._

  private def d(s: String) = java.sql.Date.valueOf(s)
  private val jan = d("2025-01-01")

  private def warehouse(): TableStore = {
    val store = new TableStore(spark, tmpDir("graft_q_wh"))
    store.overwrite("composicoes",
      Seq((100, "ALVENARIA", "M2", null: String, "ATIVO"),
        (200, "CHAPISCO", "M2", null: String, "DESATIVADO"))
        .toDF("codigo", "descricao", "unidade", "grupo", "status"))
    store.overwrite("composicao_insumos",
      Seq((100, 1, BigDecimal("2.5")), (200, 2, BigDecimal("3.0")))
        .toDF("composicao_pai_codigo", "insumo_filho_codigo", "coeficiente"))
    store.overwrite("composicao_subcomposicoes",
      Seq((100, 200, BigDecimal("1.0")))
        .toDF("composicao_pai_codigo", "composicao_filho_codigo", "coeficiente"))
    store.overwrite("custos_composicoes_mensal",
      Seq((100, "SP", jan, "NAO_DESONERADO", BigDecimal("1234.56")))
        .toDF("composicao_codigo", "uf", "data_referencia", "regime", "custo_total"))
    store.overwrite("precos_insumos_mensal",
      Seq((1, "SP", jan, "NAO_DESONERADO", BigDecimal("10.00")),
        (2, "SP", jan, "NAO_DESONERADO", BigDecimal("4.00")))
        .toDF("insumo_codigo", "uf", "data_referencia", "regime", "preco_mediano"))
    store.overwrite("manutencoes_historico",
      Seq((1, "INSUMO", d("2025-02-01"), "DESATIVAÇÃO", "x"),
        (1, "INSUMO", d("2025-01-01"), "ALTERAÇÃO", "x"))
        .toDF("item_codigo", "tipo_item", "data_referencia", "tipo_manutencao", "descricao_item"))
    store
  }

  test("cost point lookup with status join") {
    val store = warehouse()
    val row = Queries.custoComposicao(store, 100, "SP", jan, "NAO_DESONERADO").head()
    assert(row.getAs[java.math.BigDecimal]("custo_total").doubleValue() == 1234.56)
    assert(row.getAs[String]("status") == "ATIVO")
  }

  test("recursive structure explosion over both edge tables") {
    val store = warehouse()
    val out = Queries.estrutura(store, 100)
      .select(col("node"), col("eff_coeff").cast("double"))
      .as[(Int, Double)].collect().toMap
    // direct: insumo 1 @2.5, sub 200 @1.0; transitive: insumo 2 @ 1.0*3.0
    assert(out == Map(1 -> 2.5, 200 -> 1.0, 2 -> 3.0))
  }

  test("rolled-up cost = sum over exploded leaves x prices") {
    val store = warehouse()
    val total = Queries.custoRolledUp(store, 100, "SP", jan, "NAO_DESONERADO")
      .select(col("custo_total").cast("double")).as[Double].head()
    // 2.5*10.00 + 3.0*4.00 = 37.00 (node 200 has no insumo price row)
    assert(total == 37.0)
  }

  test("ad-hoc SQL surface: spark.sql over registered views (S14)") {
    val store = warehouse()
    graft.query.Views.registerAll(store)
    // the documented history-scan SQL shape (docs/DataModel.md:393-401)
    val hist = spark.sql(
      """SELECT data_referencia, tipo_manutencao FROM manutencoes_historico
        |WHERE item_codigo = 1 AND tipo_item = 'INSUMO'
        |ORDER BY data_referencia DESC""".stripMargin)
      .collect().map(_.getString(1)).toSeq
    assert(hist == Seq("DESATIVAÇÃO", "ALTERAÇÃO"))
    // point cost lookup with status join, as SQL
    val cost = spark.sql(
      """SELECT c.custo_total, d.status FROM custos_composicoes_mensal c
        |JOIN composicoes d ON d.codigo = c.composicao_codigo
        |WHERE c.composicao_codigo = 100 AND c.uf = 'SP'
        |  AND c.data_referencia = DATE'2025-01-01' AND c.regime = 'NAO_DESONERADO'""".stripMargin)
      .head()
    assert(cost.getDecimal(0).doubleValue() == 1234.56 && cost.getString(1) == "ATIVO")
    // unified view with discriminator
    assert(spark.sql(
      "SELECT count(*) FROM vw_composicao_itens_unificados WHERE tipo_item = 'INSUMO'")
      .head().getLong(0) == 2L)
  }

  test("recursive-CTE front door: the documented WITH RECURSIVE SQL runs at the S14 surface") {
    val store = warehouse()
    graft.query.Views.registerAll(store)
    // the documented recursive shape (docs/DataModel.md:386-391) typed
    // at the SQL surface. Note the casts: a recursive CTE's step output
    // must type-match its anchor EXACTLY (decimal multiplication widens
    // precision every iteration, which can't converge), same rule as PG.
    val out = spark.sql(
      """WITH RECURSIVE estrutura AS (
        |  SELECT item_filho_codigo, tipo_item,
        |         CAST(coeficiente AS double) AS coef_total
        |  FROM vw_composicao_itens_unificados
        |  WHERE composicao_pai_codigo = 100
        |  UNION ALL
        |  SELECT v.item_filho_codigo, v.tipo_item,
        |         CAST(e.coef_total * v.coeficiente AS double)
        |  FROM estrutura e
        |  JOIN vw_composicao_itens_unificados v
        |    ON v.composicao_pai_codigo = e.item_filho_codigo
        |  WHERE e.tipo_item = 'COMPOSICAO'
        |)
        |SELECT item_filho_codigo, CAST(sum(coef_total) AS double) AS eff_coeff
        |FROM estrutura GROUP BY item_filho_codigo""".stripMargin)
      .as[(Int, Double)].collect().toMap
    assert(out == Map(1 -> 2.5, 200 -> 1.0, 2 -> 3.0))
    // and it agrees with the programmatic TreeExplode path
    val prog = Queries.estrutura(store, 100)
      .select(col("node"), col("eff_coeff").cast("double"))
      .as[(Int, Double)].collect().toMap
    assert(out == prog)
  }

  /** A DAG warehouse for the closure specs:
    *   300 -> 310 (2.0), 300 -> 320 (3.0)   diamond: 310 and 320
    *   310 -> 330 (1.5), 320 -> 330 (0.5)   share subcomposition 330
    *   330 -> 340 -> 350 -> 360             a chain: 300 reaches depth 6
    *   350 -> 999                           999 is in no catalog
    *   insumos: 300 -> 1, 320 -> 1, 330 -> 2, 360 -> 3, 360 -> 99
    *            (99 is in no catalog and has no price)
    *   370 is a catalogued composition with no edges. */
  private def dag(): TableStore = {
    val store = new TableStore(spark, tmpDir("graft_q_dag"))
    store.overwrite("composicoes",
      Seq(300, 310, 320, 330, 340, 350, 360, 370)
        .map(c => (c, s"C$c", "UN", null: String, "ATIVO"))
        .toDF("codigo", "descricao", "unidade", "grupo", "status"))
    store.overwrite("composicao_insumos", insumoEdges(BigDecimal("2.0")))
    store.overwrite("composicao_subcomposicoes", subEdges(BigDecimal("4.0")))
    store.overwrite("precos_insumos_mensal",
      Seq((1, BigDecimal("10.00")), (2, BigDecimal("4.00")), (3, BigDecimal("0.333333")))
        .map { case (i, p) => (i, "SP", jan, "NAO_DESONERADO", p) }
        .toDF("insumo_codigo", "uf", "data_referencia", "regime", "preco_mediano"))
    store
  }

  private def insumoEdges(c330: BigDecimal): DataFrame =
    Seq((300, 1, BigDecimal("1.0")), (320, 1, BigDecimal("0.25")), (330, 2, c330),
      (360, 3, BigDecimal("0.1")), (360, 99, BigDecimal("7.0")))
      .toDF("composicao_pai_codigo", "insumo_filho_codigo", "coeficiente")

  private def subEdges(c350: BigDecimal): DataFrame =
    Seq((300, 310, BigDecimal("2.0")), (300, 320, BigDecimal("3.0")),
      (310, 330, BigDecimal("1.5")), (320, 330, BigDecimal("0.5")),
      (330, 340, BigDecimal("2.0")), (340, 350, BigDecimal("1.25")),
      (350, 360, c350), (350, 999, BigDecimal("1.0")))
      .toDF("composicao_pai_codigo", "composicao_filho_codigo", "coeficiente")

  /** Every parent, and a composition with no edges. */
  private val dagRoots = Seq(300, 310, 320, 330, 340, 350, 360, 370)

  /** The per-root BFS: what `estrutura` computed before the closure. */
  private def bfs(store: TableStore, root: Int): DataFrame = {
    val ins = store.read("composicao_insumos").select(
      col("composicao_pai_codigo").as("parent"),
      col("insumo_filho_codigo").as("child"), col("coeficiente").as("coeff"))
    val subs = store.read("composicao_subcomposicoes").select(
      col("composicao_pai_codigo").as("parent"),
      col("composicao_filho_codigo").as("child"), col("coeficiente").as("coeff"))
    TreeExplode.explode(ins.unionByName(subs), spark.range(1).select(lit(root).as("root")))
  }

  /** The roll-up over a given tree, as `custoRolledUp` spells it. */
  private def rollup(store: TableStore, tree: DataFrame): DataFrame = {
    val prices = store.read("precos_insumos_mensal")
      .filter(col("uf") === "SP" && col("data_referencia") === jan &&
        col("regime") === "NAO_DESONERADO")
      .select(col("insumo_codigo"), col("preco_mediano"))
    tree.join(prices, tree("node") === prices("insumo_codigo"))
      .agg(sum((col("eff_coeff") * col("preco_mediano")).cast(Schemas.money))
        .as("custo_total"))
  }

  /** Same schema and the same rows, decimals compared as BigDecimal. */
  private def assertSame(got: DataFrame, want: DataFrame, what: String): Unit = {
    assert(got.schema == want.schema, s"$what: schema")
    val (g, w) = (got.collect().toSet, want.collect().toSet)
    assert(g == w, s"$what: rows")
  }

  private def tree(store: TableStore, root: Int): Set[Row] =
    Queries.estrutura(store, root).collect().toSet

  test("closure: every root's tree and roll-up equal the per-root BFS, schema and decimals") {
    val store = dag()
    dagRoots.foreach { r =>
      val want = bfs(store, r)
      assertSame(Queries.estrutura(store, r), want, s"estrutura($r)")
      assertSame(Queries.custoRolledUp(store, r, "SP", jan, "NAO_DESONERADO"),
        rollup(store, want), s"custoRolledUp($r)")
    }
    assert(Queries.Closure.resident.isDefined, "the DAG's closure should be held")
    // the shared subcomposition's paths sum: 330 is reached 2.0*1.5 + 3.0*0.5
    val eff = Queries.estrutura(store, 300).collect()
      .map(r => r.getInt(1) -> r.getDecimal(2)).toMap
    assert(eff(330).compareTo(new java.math.BigDecimal("4.5")) == 0)
    assert(eff(99).compareTo(new java.math.BigDecimal("315.0")) == 0)
    assert(tree(store, 370).isEmpty && tree(store, 999).isEmpty && tree(store, 1).isEmpty)
  }

  test("closure: rewriting either edge table invalidates it") {
    val store = dag()
    assertSame(Queries.estrutura(store, 300), bfs(store, 300), "before")
    val first = tree(store, 300)
    store.overwrite("composicao_insumos", insumoEdges(BigDecimal("5.0")))
    val afterIns = tree(store, 300)
    assert(afterIns != first)
    assert(afterIns == bfs(store, 300).collect().toSet)
    store.overwrite("composicao_subcomposicoes", subEdges(BigDecimal("8.0")))
    val afterSubs = tree(store, 300)
    assert(afterSubs != afterIns)
    val want = bfs(store, 300)
    assert(afterSubs == want.collect().toSet)
    assertSame(Queries.custoRolledUp(store, 300, "SP", jan, "NAO_DESONERADO"),
      rollup(store, want), "roll-up after both rewrites")
  }

  test("closure: a cycle elsewhere leaves other roots answering, a root on it still raises") {
    val store = warehouse()
    store.overwrite("composicao_subcomposicoes",
      Seq((100, 200, BigDecimal("1.0")), (500, 501, BigDecimal("1.0")), (501, 500, BigDecimal("1.0")))
        .toDF("composicao_pai_codigo", "composicao_filho_codigo", "coeficiente"))
    val out = Queries.estrutura(store, 100)
      .select(col("node"), col("eff_coeff").cast("double"))
      .as[(Int, Double)].collect().toMap
    assert(out == Map(1 -> 2.5, 200 -> 1.0, 2 -> 3.0))
    assert(Queries.Closure.resident.isEmpty, "the all-roots build must fail on the cycle")
    intercept[IllegalStateException] { Queries.estrutura(store, 500).collect() }
  }

  test("closure: a build failure other than a cycle is not remembered") {
    var failing = true
    val store = new TableStore(spark, dag().root) {
      override def read(table: String): DataFrame = {
        val df = super.read(table)
        if (failing && table == "composicao_subcomposicoes")
          df.withColumn("coeficiente", when(col("coeficiente").isNotNull,
            raise_error(lit("edge read failed"))).otherwise(col("coeficiente")))
        else df
      }
    }
    val e = intercept[Exception] { Queries.estrutura(store, 300).collect() }
    assert(!e.isInstanceOf[IllegalStateException], e.toString)
    failing = false
    // same snapshot, built again: a remembered failure would leave no
    // closure held and answer by the per-root BFS
    assertSame(Queries.estrutura(store, 300), bfs(store, 300), "after the failed build")
    assert(Queries.Closure.resident.isDefined, "the failed build was remembered")
  }

  test("closure: concurrent first calls all answer correctly") {
    val store = dag()
    val roots = Seq(300, 310, 330, 360)
    val want = roots.map(r => r -> bfs(store, r).collect().toSet).toMap
    val pool = Executors.newFixedThreadPool(roots.size)
    try {
      val futures = roots.map(r => pool.submit(new Callable[Set[Row]] {
        def call(): Set[Row] = tree(store, r)
      }))
      roots.zip(futures).foreach { case (r, f) => assert(f.get() == want(r), s"root $r") }
    } finally pool.shutdown()
    assert(Queries.Closure.resident.isDefined)
  }

  test("closure: the memo holds one closure, and a replaced one is released") {
    def firstRdd(df: DataFrame) = df.queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }.get
    val a = dag()
    val want = tree(a, 300)
    val idA = firstRdd(Queries.Closure.resident.get).id
    assert(Queries.protectedRddIds == Set(idA))
    val b = dag()
    assert(tree(b, 300) == want)
    val idB = firstRdd(Queries.Closure.resident.get).id
    assert(idB != idA && Queries.protectedRddIds == Set(idB))
    // a between-queries block release frees the replaced closure and
    // keeps the held one readable
    BlockRelease.releaseTransient(spark)
    assert(!spark.sparkContext.getPersistentRDDs.contains(idA), "the replaced closure is still held")
    assert(spark.sparkContext.getPersistentRDDs.contains(idB))
    assert(tree(b, 300) == want)
    assert(firstRdd(Queries.Closure.resident.get).id == idB, "B's closure was rebuilt")
  }

  test("item history: filtered scan, newest first") {
    val store = warehouse()
    val out = Queries.historico(store, 1, Schemas.ItemType.Insumo)
      .select(col("data_referencia").cast("string"), col("tipo_manutencao"))
      .as[(String, String)].collect().toSeq
    assert(out == Seq(("2025-02-01", "DESATIVAÇÃO"), ("2025-01-01", "ALTERAÇÃO")))
  }

  test("item history: events appended month by month read newest first across partitions") {
    val store = warehouse()
    val months = Seq("2025-03-01", "2024-11-01", "2025-05-01", "2025-01-15", "2024-12-01")
    months.foreach { m =>
      store.appendIgnore("manutencoes_historico",
        Seq((7, "INSUMO", d(m), s"M$m", "x"), (8, "INSUMO", d(m), "other item", "x"))
          .toDF("item_codigo", "tipo_item", "data_referencia", "tipo_manutencao", "descricao_item"))
    }
    val scanned = store.read("manutencoes_historico")
      .filter(col("item_codigo") === 7 && col("tipo_item") === "INSUMO")
    assert(scanned.inputFiles.length >= months.size && scanned.rdd.getNumPartitions > 1,
      "the item's events should span several files and scan partitions")
    val out = Queries.historico(store, 7, Schemas.ItemType.Insumo)
      .select(col("data_referencia").cast("string"), col("tipo_manutencao"))
      .as[(String, String)].collect().toSeq
    assert(out == months.sorted.reverse.map(m => (m, s"M$m")))
  }

  /** The warehouse with cost rows for 100 (ATIVO), 200 (DESATIVADO) and
    * 777, a code missing from `composicoes`. */
  private def priced(): TableStore = {
    val store = warehouse()
    store.overwrite("custos_composicoes_mensal",
      Seq(100, 200, 777).map(c => (c, "SP", jan, "NAO_DESONERADO", BigDecimal(c) / 10))
        .toDF("composicao_codigo", "uf", "data_referencia", "regime", "custo_total"))
    store
  }

  private def catalog(rows: (Int, String)*): DataFrame =
    rows.map { case (c, s) => (c, s"C$c", "M2", null: String, s) }
      .toDF("codigo", "descricao", "unidade", "grupo", "status")

  private def lookup(store: TableStore, codigo: Int): DataFrame =
    Queries.custoComposicao(store, codigo, "SP", jan, "NAO_DESONERADO")

  private def status(store: TableStore, codigo: Int): Seq[String] =
    lookup(store, codigo).collect().map(_.getAs[String]("status")).toSeq

  /** The left join on the catalog the status memo stands in for. */
  private def statusJoin(store: TableStore, codigo: Int): DataFrame = {
    val custos = Queries.custoComposicao(store, codigo, "SP", jan, "NAO_DESONERADO",
      checkStatus = false)
    custos.join(store.read("composicoes").select(col("codigo"), col("status")),
      custos("composicao_codigo") === col("codigo"), "left").drop("codigo")
  }

  test("lookup status: rows, columns and nullable status equal the catalog left join") {
    val store = priced()
    Seq(100 -> "ATIVO", 200 -> "DESATIVADO", 777 -> (null: String)).foreach { case (c, want) =>
      assertSame(lookup(store, c), statusJoin(store, c), s"lookup($c)")
      assert(status(store, c) == Seq(want), s"status of $c")
    }
    assert(lookup(store, 100).schema("status").nullable)
    assert(lookup(store, 555).collect().isEmpty)
  }

  test("lookup status: rewriting composicoes between lookups changes the next answer") {
    val store = priced()
    assert(status(store, 100) == Seq("ATIVO"))
    store.upsert("composicoes", catalog(100 -> "DESATIVADO"))
    assert(status(store, 100) == Seq("DESATIVADO"))
    assert(status(store, 200) == Seq("DESATIVADO"))
    store.overwrite("composicoes", catalog(200 -> "ATIVO", 777 -> "ATIVO"))
    assert(status(store, 100) == Seq(null))
    assert(status(store, 200) == Seq("ATIVO"))
    assert(status(store, 777) == Seq("ATIVO"))
  }

  test("lookup status: concurrent first lookups all answer correctly") {
    val store = priced()
    val want = Seq(100 -> "ATIVO", 200 -> "DESATIVADO", 777 -> (null: String), 100 -> "ATIVO")
    val pool = Executors.newFixedThreadPool(want.size)
    try {
      val futures = want.map { case (c, _) => pool.submit(new Callable[Seq[String]] {
        def call(): Seq[String] = status(store, c)
      }) }
      want.zip(futures).foreach { case ((c, s), f) => assert(f.get() == Seq(s), s"code $c") }
    } finally pool.shutdown()
  }

  test("point reads run one Spark job once the memos are warm, a roll-up at most two") {
    val store = warehouse()
    val sc = spark.sparkContext
    def jobs(df: DataFrame): Int = {
      val started = new AtomicInteger
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = started.incrementAndGet()
      }
      ListenerBusDrain(sc)
      sc.addSparkListener(listener)
      try {
        df.collect()
        ListenerBusDrain(sc)
        started.get
      } finally sc.removeSparkListener(listener)
    }
    def lookupRead = lookup(store, 100)
    def historyRead = Queries.historico(store, 1, Schemas.ItemType.Insumo)
    def rollupRead = Queries.custoRolledUp(store, 100, "SP", jan, "NAO_DESONERADO")
    Seq(lookupRead, historyRead, rollupRead).foreach(_.collect())
    assert(jobs(lookupRead) == 1, "lookup")
    assert(jobs(historyRead) == 1, "history")
    assert(jobs(rollupRead) <= 2, "roll-up")
  }
}
