package graft
package registry

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.ops.{Relational, TreeExplode}

/** The 20 parity queries: the AutoSINAPI warehouse and pipeline
  * operators (SURVEY.md §2) — relational joins, ranking windows,
  * dedup-keep-first, upsert / append-ignore / replace-period, unpivot,
  * the composition-tree explosion and the native text parsers. */
private[graft] object ParityQueries {

  private val D = DecimalType(18, 2)
  private def dec(c: Column): Column = c.cast(D)

  // ---- q01: A-ops + numeric aggregation (TPC-H Q1 shape) -----------------
  private[graft] def pricingSummary(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    li.filter(col("l_shipdate") <= lit(java.sql.Timestamp.valueOf("1998-09-02 00:00:00")))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
        sum(dec(col("l_extendedprice")) * (dec(lit(1)) - dec(col("l_discount"))))
          .cast("double").as("sum_disc_price"),
        (sum(dec(col("l_quantity"))).cast("double") / count(lit(1))).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  // ---- q02: multi-way join, broadcast dims (J7) --------------------------
  private def revenueByNation(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir); val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir); val n = Tables.nation(s, dir)
    val r = Tables.region(s, dir)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        sum(dec(col("l_extendedprice")) * (dec(lit(1)) - dec(col("l_discount"))))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("r_name"), col("n_name"))
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q01_pricing_summary", ((s, d) => pricingSummary(s, d)),
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
        | COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    QuerySpec("q02_revenue_by_nation", ((s, d) => revenueByNation(s, d)),
      """SELECT r_name, n_name,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        | COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin),

    // J1/J2 anti-join: keys present on one side only
    QuerySpec("q03_customers_without_orders", ((s, d) => {
      val c = Tables.customer(s, d)
      val recent = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit(java.sql.Timestamp.valueOf("2000-01-01 00:00:00")))
      c.join(recent, c("c_custkey") === recent("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
        .orderBy(col("c_custkey"))
    }),
      """SELECT c_custkey, c_name, c_mktsegment FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
        |                  AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
        |ORDER BY c_custkey""".stripMargin),

    // J4 left-semi join
    QuerySpec("q04_suppliers_with_shipments", ((s, d) => {
      val sup = Tables.supplier(s, d); val li = Tables.lineitem(s, d)
      sup.join(li, sup("s_suppkey") === li("l_suppkey"), "left_semi")
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"))
        .orderBy(col("s_suppkey"))
    }),
      """SELECT s_suppkey, s_name, s_acctbal FROM supplier s
        |WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_suppkey = s.s_suppkey)
        |ORDER BY s_suppkey""".stripMargin),

    // J3 left-join enrichment with template fallback (placeholder repair)
    QuerySpec("q05_placeholder_enrich", ((s, d) => {
      val li = Tables.lineitem(s, d)
      val cat = Tables.part(s, d).filter(col("p_size") < 48)
        .select(col("p_partkey"), col("p_name"), col("p_brand"))
      val base = li.select(col("l_partkey").as("p_partkey")).distinct()
      Relational.enrichWithFallback(base, cat, Seq("p_partkey"), Seq(
          ("descricao", col("p_name"),
            concat(lit("PART_DESCONHECIDO_"), col("p_partkey").cast("string"))),
          ("unidade", col("p_brand"), lit("UN"))))
        .select(col("p_partkey"), col("descricao"), col("unidade"))
        .orderBy(col("p_partkey"))
    }),
      """SELECT t.p_partkey,
        | COALESCE(p.p_name, 'PART_DESCONHECIDO_' || CAST(t.p_partkey AS VARCHAR)) AS descricao,
        | COALESCE(p.p_brand, 'UN') AS unidade
        |FROM (SELECT DISTINCT l_partkey AS p_partkey FROM lineitem) t
        |LEFT JOIN (SELECT * FROM part WHERE p_size < 48) p USING (p_partkey)
        |ORDER BY p_partkey""".stripMargin),

    // W1/A6 ranking window: latest row per key
    QuerySpec("q06_latest_event_per_user", ((s, d) => {
      val ev = Tables.events(s, d)
      Relational.latestPerKey(ev, Seq("user_id"),
          Seq(col("ts").desc, col("event_id").desc))
        .select(col("user_id"), col("event_id"), col("event_type"), col("value"))
        .orderBy(col("user_id"))
    }),
      """SELECT user_id, event_id, event_type, value FROM (
        | SELECT user_id, event_id, event_type, value,
        |   ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        | FROM events) WHERE rn = 1
        |ORDER BY user_id""".stripMargin),

    // A1-A4 dedup-keep-first with explicit total order
    QuerySpec("q07_dedup_keep_first", ((s, d) => {
      val li = Tables.lineitem(s, d)
      // Tiebreak on l_quantity: the testdata contains duplicate
      // (l_orderkey, l_partkey, l_linenumber) rows, so l_linenumber alone
      // is not a total order within dedup groups.
      Relational.dedupKeepFirst(li, Seq("l_orderkey", "l_partkey"),
          Seq(col("l_linenumber").asc, col("l_quantity").asc))
        .select(col("l_orderkey"), col("l_partkey"), col("l_linenumber"), col("l_quantity"))
        .orderBy(col("l_orderkey"), col("l_partkey"))
    }),
      """SELECT l_orderkey, l_partkey, l_linenumber, l_quantity FROM (
        | SELECT l_orderkey, l_partkey, l_linenumber, l_quantity,
        |   ROW_NUMBER() OVER (PARTITION BY l_orderkey, l_partkey ORDER BY l_linenumber ASC, l_quantity ASC) AS rn
        | FROM lineitem) WHERE rn = 1
        |ORDER BY l_orderkey, l_partkey""".stripMargin),

    // SO1/SO2 union view with literal discriminator
    QuerySpec("q08_party_union_view", ((s, d) => {
      val c = Tables.customer(s, d)
        .select(col("c_custkey").as("id"), col("c_name").as("name"), col("c_acctbal").as("acctbal"))
      val sup = Tables.supplier(s, d)
        .select(col("s_suppkey").as("id"), col("s_name").as("name"), col("s_acctbal").as("acctbal"))
      Relational.unionView(Seq((c, "CUSTOMER"), (sup, "SUPPLIER")), "tipo")
        .orderBy(col("tipo"), col("id"))
    }),
      """SELECT id, name, acctbal, tipo FROM (
        | SELECT c_custkey AS id, c_name AS name, c_acctbal AS acctbal, 'CUSTOMER' AS tipo FROM customer
        | UNION ALL
        | SELECT s_suppkey, s_name, s_acctbal, 'SUPPLIER' FROM supplier)
        |ORDER BY tipo, id""".stripMargin),

    // U1 unpivot wide->long
    QuerySpec("q09_part_attrs_unpivot", ((s, d) => {
      Tables.part(s, d)
        .select(col("p_partkey"), col("p_size").cast("double").as("size"),
          col("p_retailprice").as("retailprice"))
        .unpivot(Array(col("p_partkey")), Array(col("size"), col("retailprice")), "attr", "val")
        .orderBy(col("p_partkey"), col("attr"))
    }),
      """SELECT p_partkey, attr, val FROM (
        | SELECT p_partkey, 'size' AS attr, CAST(p_size AS DOUBLE) AS val FROM part
        | UNION ALL
        | SELECT p_partkey, 'retailprice', p_retailprice FROM part)
        |ORDER BY p_partkey, attr""".stripMargin),

    // S10 upsert (ON CONFLICT DO UPDATE): incoming latest-order balance wins
    QuerySpec("q10_upsert_dim", ((s, d) => {
      val existing = Tables.customer(s, d).select(col("c_custkey"), col("c_acctbal"))
      val incoming = Relational.latestPerKey(Tables.orders(s, d), Seq("o_custkey"),
          Seq(col("o_orderdate").desc, col("o_orderkey").desc))
        .select(col("o_custkey").as("c_custkey"), col("o_totalprice").as("c_acctbal"))
      Relational.upsert(existing, incoming, Seq("c_custkey"))
        .orderBy(col("c_custkey"))
    }),
      """WITH latest AS (
        | SELECT o_custkey, o_totalprice FROM (
        |  SELECT o_custkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |  FROM orders) WHERE rn = 1)
        |SELECT COALESCE(l.o_custkey, c.c_custkey) AS c_custkey,
        |       COALESCE(l.o_totalprice, c.c_acctbal) AS c_acctbal
        |FROM customer c FULL OUTER JOIN latest l ON l.o_custkey = c.c_custkey
        |ORDER BY c_custkey""".stripMargin),

    // S9 append-ignore-conflicts (ON CONFLICT DO NOTHING)
    QuerySpec("q11_append_ignore", ((s, d) => {
      val o = Tables.orders(s, d)
      val existing = o.filter(col("o_orderdate") < lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00")))
      val incoming = o.filter(col("o_orderdate") < lit(java.sql.Timestamp.valueOf("1998-01-01 00:00:00")))
      Relational.appendIgnore(existing, incoming, Seq("o_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), sum(dec(col("o_totalprice"))).cast("double").as("total"))
        .orderBy(col("o_orderstatus"))
    }),
      """SELECT o_orderstatus, COUNT(*) AS n,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    // S11 replace-period (month-partition overwrite semantics)
    QuerySpec("q12_replace_period", ((s, d) => {
      val ev = Tables.events(s, d)
      val period = date_trunc("month", col("ts")) === lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
      val replacement = ev.filter(period)
        .withColumn("value", (dec(col("value")) * lit(2)).cast("double"))
      Relational.replacePeriod(ev, replacement, period)
        .groupBy(date_trunc("month", col("ts")).as("month"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(dec(col("value"))).cast("double").as("total"))
        .orderBy(col("month"), col("event_type"))
    }),
      """WITH ev AS (
        | SELECT ts, event_type, value FROM events
        | WHERE date_trunc('month', ts) <> TIMESTAMP '2024-01-01 00:00:00'
        | UNION ALL
        | SELECT ts, event_type, CAST(CAST(value AS DECIMAL(18,2)) * 2 AS DOUBLE) FROM events
        | WHERE date_trunc('month', ts) = TIMESTAMP '2024-01-01 00:00:00')
        |SELECT date_trunc('month', ts) AS month, event_type, COUNT(*) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM ev GROUP BY 1, 2 ORDER BY month, event_type""".stripMargin),

    // §7.4 recursive composition explosion (iterative BFS, DAG collapse)
    QuerySpec("q13_tree_explosion", ((s, d) => {
      val p = Tables.part(s, d)
      val coeff = (col("p_size") % 3 + 1).cast("long")
      def childEdges(expr: Column): DataFrame = p
        .select(col("p_partkey").as("parent"), expr.as("child"), coeff.as("coeff"))
        .filter(col("child") <= 1999 && col("child") > col("parent"))
      val edges = childEdges(col("p_partkey") * 2)
        .unionByName(childEdges(col("p_partkey") * 2 + 1))
        .unionByName(childEdges(col("p_partkey") * 2 + 2))
      import s.implicits._
      val roots = Seq(1L, 2L, 3L).toDF("root")
      TreeExplode.explode(edges, roots)
        .select(col("root"), col("node"), col("eff_coeff").cast("long").as("eff_coeff"))
        .orderBy(col("root"), col("node"))
    }),
      """WITH RECURSIVE edges AS (
        | SELECT p_partkey AS parent, 2*p_partkey AS child, CAST(p_size % 3 + 1 AS BIGINT) AS coeff
        |   FROM part WHERE 2*p_partkey <= 1999 AND 2*p_partkey > p_partkey
        | UNION ALL
        | SELECT p_partkey, 2*p_partkey+1, CAST(p_size % 3 + 1 AS BIGINT)
        |   FROM part WHERE 2*p_partkey+1 <= 1999 AND 2*p_partkey+1 > p_partkey
        | UNION ALL
        | SELECT p_partkey, 2*p_partkey+2, CAST(p_size % 3 + 1 AS BIGINT)
        |   FROM part WHERE 2*p_partkey+2 <= 1999 AND 2*p_partkey+2 > p_partkey
        |), paths AS (
        | SELECT parent AS root, child AS node, coeff AS eff FROM edges WHERE parent IN (1,2,3)
        | UNION ALL
        | SELECT p.root, e.child, p.eff * e.coeff FROM paths p JOIN edges e ON e.parent = p.node
        |)
        |SELECT root, node, CAST(SUM(eff) AS BIGINT) AS eff_coeff
        |FROM paths GROUP BY root, node ORDER BY root, node""".stripMargin),

    // F1 normalize_text as a native codegen'd Catalyst expression
    QuerySpec("q14_normalize_text", ((s, d) => {
      Tables.part(s, d)
        .select(col("p_partkey"), expr("normalize_text(p_name)").as("norm_name"),
          expr("normalize_text(p_type)").as("norm_type"))
        .orderBy(col("p_partkey"))
    }),
      """SELECT p_partkey,
        | regexp_replace(replace(replace(upper(strip_accents(trim(p_name))), ' ', '_'), chr(10), '_'), '[^A-Z0-9_]', '', 'g') AS norm_name,
        | regexp_replace(replace(replace(upper(strip_accents(trim(p_type))), ' ', '_'), chr(10), '_'), '[^A-Z0-9_]', '', 'g') AS norm_type
        |FROM part ORDER BY p_partkey""".stripMargin),

    // F3 comma-decimal parse roundtrip
    QuerySpec("q15_comma_decimal_parse", ((s, d) => {
      val li = Tables.lineitem(s, d)
      li.withColumn("raw", regexp_replace(dec(col("l_quantity")).cast("string"), "\\.", ","))
        .withColumn("parsed", regexp_replace(col("raw"), ",", ".").cast(DecimalType(18, 6)))
        .groupBy(col("l_returnflag"))
        .agg(sum(col("parsed")).cast("double").as("sum_qty"), count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))
    }),
      """SELECT l_returnflag,
        | CAST(SUM(CAST(replace(replace(CAST(CAST(l_quantity AS DECIMAL(18,2)) AS VARCHAR), '.', ','), ',', '.') AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
        | COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // F6 MM/yyyy month parse (null-on-failure coercion semantics)
    QuerySpec("q16_month_parse", ((s, d) => {
      // month emitted as a string: DATE columns round-trip differently
      // through pandas (datetime.date vs datetime64) and can trip a
      // dtype-naive comparator; the MM/yyyy *parse* still happens.
      Tables.orders(s, d)
        .withColumn("ms", date_format(col("o_orderdate"), "MM/yyyy"))
        .withColumn("month", date_format(to_date(col("ms"), "MM/yyyy"), "yyyy-MM-dd"))
        .groupBy(col("month")).agg(count(lit(1)).as("n"))
        .orderBy(col("month"))
    }),
      """SELECT strftime(CAST(strptime(strftime(o_orderdate, '%m/%Y'), '%m/%Y') AS DATE), '%Y-%m-%d') AS month, COUNT(*) AS n
        |FROM orders GROUP BY 1 ORDER BY month""".stripMargin),

    // F4/P7 regex code extraction from formula-style cells
    QuerySpec("q17_code_extract", ((s, d) => {
      val li = Tables.lineitem(s, d)
      li.withColumn("cell", concat(lit("ITEM,("), col("l_partkey").cast("string"), lit(")")))
        .withColumn("code", regexp_extract(col("cell"), ",\\((\\d+)\\)$", 1).cast("int"))
        .groupBy((col("code") % 100).as("code_bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("code_bucket"))
    }),
      """SELECT CAST(regexp_extract('ITEM,(' || CAST(l_partkey AS VARCHAR) || ')', ',\((\d+)\)$', 1) AS INTEGER) % 100 AS code_bucket,
        | COUNT(*) AS n
        |FROM lineitem GROUP BY 1 ORDER BY code_bucket""".stripMargin),

    // F10 ILIKE
    QuerySpec("q18_ilike", ((s, d) => {
      Tables.orders(s, d)
        .filter(col("o_orderpriority").ilike("%uRgEnT%"))
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
        .orderBy(col("o_orderpriority"))
    }),
      """SELECT o_orderpriority, COUNT(*) AS n FROM orders
        |WHERE o_orderpriority ILIKE '%uRgEnT%'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    // §2.9 time-windowed aggregation (batch form of the streaming agg)
    QuerySpec("q19_events_hourly", ((s, d) => {
      Tables.events(s, d)
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(dec(col("value"))).cast("double").as("total"))
        .orderBy(col("hour"), col("event_type"))
    }),
      """SELECT date_trunc('hour', ts) AS hour, event_type, COUNT(*) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin),

    // W2 forward-fill via last(ignoreNulls) window
    QuerySpec("q20_forward_fill", ((s, d) => {
      val ev = Tables.events(s, d)
      val v = when(col("event_type").isin("view", "click"), lit(null)).otherwise(col("value"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev.withColumn("fv", last(v, ignoreNulls = true).over(w))
        .groupBy(col("user_id"))
        .agg(count(col("fv")).as("n_filled"), sum(dec(col("fv"))).cast("double").as("total"))
        .orderBy(col("user_id"))
    }),
      """WITH base AS (
        | SELECT user_id, event_id,
        |   CASE WHEN event_type IN ('view','click') THEN NULL ELSE value END AS v
        | FROM events),
        |filled AS (
        | SELECT user_id, last_value(v IGNORE NULLS) OVER (
        |   PARTITION BY user_id ORDER BY event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fv
        | FROM base)
        |SELECT user_id, COUNT(fv) AS n_filled,
        |       CAST(SUM(CAST(fv AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM filled GROUP BY user_id ORDER BY user_id""".stripMargin),
  )
}
