package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.store.TableStore

class TableStoreSpec extends SparkSpec {
  import spark.implicits._

  private def newStore() = new TableStore(spark, tmpDir("graft_store"))

  test("createTables initializes all registered tables empty, readable") {
    val store = newStore()
    store.createTables()
    graft.model.Schemas.all.keys.foreach { t =>
      assert(store.exists(t), s"$t missing")
      assert(store.read(t).count() == 0)
    }
  }

  test("absent table reads as empty with registered schema") {
    val store = newStore()
    val df = store.read("insumos")
    assert(df.count() == 0)
    assert(df.columns.toSeq ==
      Seq("codigo", "descricao", "unidade", "classificacao", "status"))
  }

  test("appendIgnore: PK conflicts dropped, re-run is a no-op") {
    val store = newStore()
    val batch = Seq((1, "A", "UN", null: String, "ATIVO"),
      (2, "B", "UN", null: String, "ATIVO"))
      .toDF("codigo", "descricao", "unidade", "classificacao", "status")
    assert(store.appendIgnore("insumos", batch) == 2)
    assert(store.appendIgnore("insumos", batch) == 0)
    val conflicting = Seq((2, "B2", "KG", null: String, "ATIVO"),
      (3, "C", "UN", null: String, "ATIVO"))
      .toDF("codigo", "descricao", "unidade", "classificacao", "status")
    assert(store.appendIgnore("insumos", conflicting) == 1)
    val out = store.read("insumos").select("codigo", "descricao")
      .as[(Int, String)].collect().toMap
    assert(out == Map(1 -> "A", 2 -> "B", 3 -> "C"))
  }

  test("appendIgnore counts on the write; a no-op re-run adds no data file") {
    val store = newStore()
    def d(s: String) = java.sql.Date.valueOf(s)
    def dataFiles(table: String): Int = {
      val all = java.nio.file.Files.walk(java.nio.file.Paths.get(store.tablePath(table)))
      try all.iterator().asScala.count(_.toString.endsWith(".parquet")) finally all.close()
    }
    val prices = Seq(
      (1, "SP", d("2025-01-01"), "NAO_DESONERADO", BigDecimal(10)),
      (1, "SP", d("2025-01-01"), "NAO_DESONERADO", BigDecimal(10)), // in-batch dup
      (2, "RJ", d("2025-02-01"), "NAO_DESONERADO", BigDecimal(20)))
      .toDF("insumo_codigo", "uf", "data_referencia", "regime", "preco_mediano")
    val dims = Seq((1, "A", "UN", null: String, "ATIVO"), (2, "B", "UN", null: String, "ATIVO"))
      .toDF("codigo", "descricao", "unidade", "classificacao", "status")
    // one partitioned and one unpartitioned table
    for ((table, batch) <- Seq("precos_insumos_mensal" -> prices, "insumos" -> dims)) {
      assert(store.appendIgnore(table, batch) == 2, table)
      val files = dataFiles(table)
      assert(files > 0, table)
      assert(store.appendIgnore(table, batch) == 0, table)
      assert(store.appendIgnore(table, batch.limit(0)) == 0, table) // empty batch: no metric
      assert(dataFiles(table) == files, table)
      assert(store.read(table).count() == 2, table)
    }
  }

  test("upsert: incoming wins on PK clash, others kept; idempotent") {
    val store = newStore()
    store.overwrite("insumos",
      Seq((1, "A", "UN", null: String, "ATIVO"), (2, "B", "UN", null: String, "ATIVO"))
        .toDF("codigo", "descricao", "unidade", "classificacao", "status"))
    val incoming = Seq((2, "B2", "KG", null: String, "ATIVO"),
      (3, "C", "UN", null: String, "ATIVO"))
      .toDF("codigo", "descricao", "unidade", "classificacao", "status")
    // exact affected-rows parity (database.py:270-280 rowcount): one per
    // distinct incoming PK, both on first run and idempotent re-run
    assert(store.upsert("insumos", incoming) == 2)
    assert(store.upsert("insumos", incoming) == 2) // re-run must not change the state
    val out = store.read("insumos").select("codigo", "descricao")
      .as[(Int, String)].collect().toMap
    assert(out == Map(1 -> "A", 2 -> "B2", 3 -> "C"))
    // in-batch PK duplicates collapse to the tiebreak survivor: 3 rows,
    // 2 distinct PKs -> 2 affected
    val dupBatch = Seq((4, "D1", "UN", null: String, "ATIVO"),
      (4, "D2", "UN", null: String, "ATIVO"),
      (5, "E", "UN", null: String, "ATIVO"))
      .toDF("codigo", "descricao", "unidade", "classificacao", "status")
    assert(store.upsert("insumos", dupBatch, Seq(col("descricao").asc)) == 2)
  }

  test("replacePeriod swaps exactly one month's slice") {
    val store = newStore()
    def d(s: String) = java.sql.Date.valueOf(s)
    val base = Seq(
      (1, "SP", d("2025-01-01"), "NAO_DESONERADO", BigDecimal(10)),
      (1, "SP", d("2025-02-01"), "NAO_DESONERADO", BigDecimal(20)))
      .toDF("insumo_codigo", "uf", "data_referencia", "regime", "preco_mediano")
    store.overwrite("precos_insumos_mensal", base)
    val repl = Seq((1, "SP", d("2025-01-01"), "NAO_DESONERADO", BigDecimal(99)))
      .toDF("insumo_codigo", "uf", "data_referencia", "regime", "preco_mediano")
    assert(store.replacePeriod("precos_insumos_mensal", repl,
      "data_referencia", d("2025-01-01")) == 1) // exact insert-side rowcount
    val out = store.read("precos_insumos_mensal")
      .select(col("data_referencia").cast("string"), col("preco_mediano").cast("int"))
      .as[(String, Int)].collect().toMap
    assert(out == Map("2025-01-01" -> 99, "2025-02-01" -> 20))
  }

  test("null-PK rows are rejected by the load policies (PG NOT NULL parity)") {
    val store = newStore()
    val batch = Seq((Some(1), "A"), (None, "NULLKEY"))
      .toDF("codigo", "descricao")
      .withColumn("unidade", lit("UN"))
      .withColumn("classificacao", lit(null).cast("string"))
      .withColumn("status", lit("ATIVO"))
    assert(store.appendIgnore("insumos", batch) == 1)
    // re-run: the null-key row must not re-append each time
    assert(store.appendIgnore("insumos", batch) == 0)
    store.upsert("insumos", batch)
    assert(store.read("insumos").count() == 1)
  }

  test("facts land partitioned by month; replace-period rewrites only its partition") {
    val store = newStore()
    def d(s: String) = java.sql.Date.valueOf(s)
    store.overwrite("precos_insumos_mensal", Seq(
      (1, "SP", d("2025-01-01"), "NAO_DESONERADO", BigDecimal(10)),
      (1, "SP", d("2025-02-01"), "NAO_DESONERADO", BigDecimal(20)))
      .toDF("insumo_codigo", "uf", "data_referencia", "regime", "preco_mediano"))
    val p = new java.io.File(store.tablePath("precos_insumos_mensal"))
    assert(p.listFiles().exists(_.getName == "data_referencia=2025-01-01"))
    val janFile = new java.io.File(p, "data_referencia=2025-02-01")
      .listFiles().filter(_.getName.endsWith(".parquet")).head
    val febMtime = janFile.lastModified()
    store.replacePeriod("precos_insumos_mensal",
      Seq((1, "SP", d("2025-01-01"), "NAO_DESONERADO", BigDecimal(99)))
        .toDF("insumo_codigo", "uf", "data_referencia", "regime", "preco_mediano"),
      "data_referencia", d("2025-01-01"))
    // dynamic overwrite must not touch February's files
    assert(new java.io.File(p, "data_referencia=2025-02-01")
      .listFiles().filter(_.getName.endsWith(".parquet")).head.lastModified() == febMtime)
    val out = store.read("precos_insumos_mensal")
      .select(col("data_referencia").cast("string"), col("preco_mediano").cast("int"))
      .as[(String, Int)].collect().toMap
    assert(out == Map("2025-01-01" -> 99, "2025-02-01" -> 20))
  }

  test("partition-pruned append-ignore only scans incoming months") {
    val store = newStore()
    def d(s: String) = java.sql.Date.valueOf(s)
    val jan = Seq((1, "SP", d("2025-01-01"), "NAO_DESONERADO", BigDecimal(10)))
      .toDF("insumo_codigo", "uf", "data_referencia", "regime", "preco_mediano")
    val feb = Seq(
      (1, "SP", d("2025-02-01"), "NAO_DESONERADO", BigDecimal(20)),
      (1, "SP", d("2025-02-01"), "NAO_DESONERADO", BigDecimal(20))) // in-batch dup
      .toDF("insumo_codigo", "uf", "data_referencia", "regime", "preco_mediano")
    assert(store.appendIgnore("precos_insumos_mensal", jan) == 1)
    assert(store.appendIgnore("precos_insumos_mensal", feb) == 1)
    assert(store.appendIgnore("precos_insumos_mensal", feb) == 0) // re-run no-op
    assert(store.read("precos_insumos_mensal").count() == 2)
  }

  test("appendIgnore: tiebreak makes the in-batch survivor first-in-order") {
    val store = newStore()
    val batch = Seq(
      (1, "FIRST", "UN", null: String, "ATIVO", 10L),
      (1, "SECOND", "UN", null: String, "ATIVO", 20L))
      .toDF("codigo", "descricao", "unidade", "classificacao", "status", "__line")
    assert(store.appendIgnore("insumos", batch, Seq(col("__line").asc)) == 1)
    val out = store.read("insumos").select("codigo", "descricao")
      .as[(Int, String)].collect().toSeq
    assert(out == Seq((1, "FIRST"))) // ON CONFLICT DO NOTHING keeps first-in-file-order
  }

  test("appendIgnore refuses an unbounded period collect (mis-partitioned batch)") {
    val store = newStore()
    def d(i: Int) = java.sql.Date.valueOf(java.time.LocalDate.of(2000, 1, 1).plusDays(i))
    store.overwrite("manutencoes_historico",
      Seq((1, "INSUMO", d(0), "ALTERACAO", "x"))
        .toDF("item_codigo", "tipo_item", "data_referencia", "tipo_manutencao", "descricao_item"))
    // a "period" column with 1001 distinct values is not a period column
    val wide = (0 to graft.store.TableStore.MaxCollectedPeriods)
      .map(i => (i, "INSUMO", d(i), "ALTERACAO", "x"))
      .toDF("item_codigo", "tipo_item", "data_referencia", "tipo_manutencao", "descricao_item")
    val e = intercept[IllegalStateException](
      store.appendIgnore("manutencoes_historico", wide))
    assert(e.getMessage.contains("distinct values"))
  }

  test("publish leaves no stale backup copies in .staging") {
    val store = newStore()
    def batch(c: Int, d: String) = Seq((c, d, "UN", null: String, "ATIVO"))
      .toDF("codigo", "descricao", "unidade", "classificacao", "status")
    store.overwrite("insumos", batch(1, "A"))
    store.overwrite("insumos", batch(2, "B")) // second publish renames the live table aside
    assert(store.read("insumos").count() == 1)
    val staging = new java.io.File(s"${store.root}/.staging")
    assert(!staging.exists() ||
      staging.listFiles().forall(f => !f.getName.contains("_old_")),
      "old table copy must be deleted after a successful swap")
  }

  test("bucketed tables join with zero shuffle exchanges") {
    val store = newStore()
    val facts1 = (1 to 1000).map(i => (i % 97, i, s"a$i"))
      .toDF("codigo", "seq", "payload")
    val facts2 = (1 to 1000).map(i => (i % 97, i, s"b$i"))
      .toDF("codigo", "seq", "payload2")
    // bucket columns must equal the FULL equi-join key: Spark's
    // co-partition check (requireAllClusterKeysForCoPartition, default
    // true) rejects a subset match, shuffles both sides, and then
    // disables the bucketed scan entirely
    store.writeBucketed("graft_bucket_l", facts1, 4, Seq("codigo", "seq"))
    store.writeBucketed("graft_bucket_r", facts2, 4, Seq("codigo", "seq"))
    val bcastKey = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(bcastKey)
    spark.conf.set(bcastKey, "-1") // force SMJ so the exchange check is meaningful
    try {
      val joined = spark.table("graft_bucket_l")
        .join(spark.table("graft_bucket_r"), Seq("codigo", "seq"))
      assert(joined.count() == 1000)
      // marker-based check, proven NON-VACUOUS by the unbucketed
      // control below: shuffles print as "Exchange hashpartitioning"
      // (plain "ShuffleExchange" never appears in a plan string, so the
      // r8 spelling of this assert could not fail)
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle:\n$plan")
      val control = facts1.join(facts2, Seq("codigo", "seq"))
      assert(control.count() == 1000)
      val planU = control.queryExecution.executedPlan.toString
      assert(planU.contains("Exchange hashpartitioning"),
        s"control: unbucketed SMJ must show the shuffle marker:\n$planU")
    } finally spark.conf.set(bcastKey, old)
  }

  test("unified edge view unions both edge tables with tipo_item discriminator") {
    val store = newStore()
    store.overwrite("composicao_insumos",
      Seq((100, 1, BigDecimal(2.5))).toDF("composicao_pai_codigo", "insumo_filho_codigo", "coeficiente"))
    store.overwrite("composicao_subcomposicoes",
      Seq((100, 200, BigDecimal(1.0))).toDF("composicao_pai_codigo", "composicao_filho_codigo", "coeficiente"))
    store.registerUnifiedView()
    val out = spark.sql(
      "SELECT item_filho_codigo, tipo_item FROM vw_composicao_itens_unificados ORDER BY 1")
      .as[(Int, String)].collect().toSeq
    assert(out == Seq((1, "INSUMO"), (200, "COMPOSICAO")))
  }
}
