package graft.store

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.model.Schemas
import graft.ops.Relational

/** Parquet-backed warehouse with the reference's four load policies
  * (`/root/reference/autosinapi/core/database.py:151-259`, SURVEY §2.1
  * S9-S13), re-expressed as Spark jobs:
  *
  *  - append-ignore (ON CONFLICT DO NOTHING)  → PK anti-join, append
  *  - upsert        (ON CONFLICT DO UPDATE)   → latest-wins merge, swap
  *  - replace-period (DELETE month + INSERT)  → filter-out + union, swap
  *  - truncate/overwrite                      → full rewrite
  *
  * Atomicity (the parity answer to PG transactions, SURVEY §4): every
  * rewrite materializes to a run-scoped staging dir first, then publishes
  * with a filesystem rename — readers never observe a half-written table.
  * PK metadata comes from [[Schemas.primaryKeys]] (no pg_index).
  *
  * At cluster scale the same policies apply unchanged; only `publish`
  * would move from rename to a metastore pointer swap (or an ACID table
  * format), which is why it is isolated here.
  */
class TableStore(val spark: SparkSession, val root: String) {

  private def fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def tablePath(table: String): String = s"$root/$table"

  def exists(table: String): Boolean = fs.exists(new Path(tablePath(table)))

  /** Read a table; absent tables read as empty with the registered
    * schema (so first-month loads need no special-casing). The schema is
    * always supplied explicitly: a freshly-bootstrapped partitioned
    * table has no files to infer from, and fixed schemas keep reads
    * independent of file-level drift. */
  def read(table: String): DataFrame = {
    val schema = Schemas.all.getOrElse(table,
      throw new IllegalArgumentException(s"unknown table: $table"))
    if (exists(table)) spark.read.schema(schema).parquet(tablePath(table))
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
  }

  /** S13: (re)initialize all registered tables as empty. */
  def createTables(): Unit =
    Schemas.all.keys.foreach { t =>
      overwrite(t, spark.createDataFrame(spark.sparkContext.emptyRDD[Row], Schemas.all(t)))
    }

  /** S12/S13: wholesale overwrite (truncate-reload of the edge tables). */
  def overwrite(table: String, df: DataFrame): Unit =
    publish(table, align(table, df))

  /** S9: append only incoming rows whose PK is absent — pure append of
    * new part-files, no rewrite of existing data. On a partitioned
    * table the anti-join's existing side is pruned to the incoming
    * batch's partitions (a monthly batch scans one month of history,
    * not all of it — the difference between O(batch) and O(table) at
    * 100 TB).
    *
    * The batch is evaluated once. Where the bounded period collect runs
    * (an existing partitioned table) the batch is cached, the collect
    * materializes it and the write reads it back. The write is the only
    * other action, and the returned count is observed on it
    * ([[TableStore.observedCount]]). Its files are sized like
    * [[publish]]'s and written to `.staging` first; only a non-empty
    * batch moves them into the table, so a no-op re-run adds no file. */
  def appendIgnore(table: String, df: DataFrame,
                   tiebreak: Seq[org.apache.spark.sql.Column] = Nil): Long = {
    val pk = Schemas.primaryKeys(table)
    val existed = exists(table)
    val periodCol = Schemas.partitionedBy.getOrElse(table, Nil).headOption.filter(_ => existed)
    // In-batch survivor choice: with a `tiebreak` ordering the surviving
    // row per PK group is the FIRST under that order — pass the staged
    // `__line` column to reproduce the reference's ON CONFLICT DO
    // NOTHING first-in-file-order exactly. Without one, dropDuplicates
    // keeps an arbitrary row (documented: fine for PK-unique batches,
    // which is what the pipeline's processors emit after their own
    // keep-first dedup).
    val deduped =
      if (tiebreak.nonEmpty) Relational.dedupKeepFirst(df, pk, tiebreak) else df
    // PG would reject NULL PK components (NOT NULL); here a null key
    // would also never match the anti-join and so would re-append on
    // every run — drop such rows, mirroring the reference's explicit
    // key-null drops (SURVEY §1.2).
    val batch = align(table, deduped).na.drop(pk).dropDuplicates(pk)
    val incoming = if (periodCol.nonEmpty) batch.cache() else batch
    try {
      val fresh =
        if (!existed) incoming
        else {
          val existing = periodCol match {
            case Some(pcol) =>
              // bounded driver-side collect: distinct months in the batch.
              // Guarded — a mis-partitioned frame (e.g. a timestamp
              // mistakenly used as the period) would otherwise collect
              // millions of values onto the driver.
              val periods = incoming.select(col(pcol)).distinct()
                .limit(TableStore.MaxCollectedPeriods + 1).collect().map(_.get(0))
              if (periods.length > TableStore.MaxCollectedPeriods)
                throw new IllegalStateException(
                  s"appendIgnore($table): more than ${TableStore.MaxCollectedPeriods} " +
                  s"distinct values of partition column '$pcol' in one batch - " +
                  "not a period column? Refusing the driver-side collect.")
              read(table).filter(col(pcol).isin(periods.toIndexedSeq: _*))
            case None => read(table)
          }
          incoming.join(existing.select(pk.map(col): _*), pk, "left_anti")
        }
      val staging = stagingDir(table)
      val n = TableStore.observedCount(fresh)(stage(table, _, staging))
      if (!existed) swapIn(table, staging)
      else {
        if (n > 0) moveDataFiles(staging, new Path(tablePath(table)))
        fs.delete(staging, true)
      }
      n
    } finally if (periodCol.nonEmpty) incoming.unpersist()
  }

  /** S10: incoming wins on PK clash; `tiebreak` orders non-PK-unique
    * incoming batches. Full merge + atomic swap (read-merge-rewrite is
    * the plain-Parquet upsert; see class doc for the at-scale variant).
    *
    * Returns the EXACT affected-row count (`database.py:270-280`
    * `execute_non_query` rowcount parity): one per DISTINCT incoming PK
    * — each either inserts or updates exactly one table row; in-batch
    * PK duplicates collapse to their tiebreak survivor first. */
  def upsert(table: String, df: DataFrame,
             tiebreak: Seq[org.apache.spark.sql.Column] = Nil): Long = {
    val pk = Schemas.primaryKeys(table)
    val incoming = align(table, df).na.drop(pk)
    val merged = Relational.upsert(read(table), incoming, pk, tiebreak)
    publish(table, merged)
    incoming.dropDuplicates(pk).count()
  }

  /** S11: month-level reprocessing — drop the period, insert replacement.
    * On a table partitioned by the period column this is a DYNAMIC
    * PARTITION OVERWRITE: only the partitions present in the
    * replacement are rewritten, every other month's files are
    * untouched — no read-merge-rewrite of the table. Unpartitioned
    * tables fall back to filter-out + union + atomic swap.
    *
    * Returns the exact INSERT-side rowcount (every incoming row is
    * written — `execute_non_query` parity for the reference's
    * DELETE-then-insert replace policy). */
  def replacePeriod(table: String, df: DataFrame, periodCol: String,
                    period: java.sql.Date): Long = {
    val incoming = align(table, df)
    val parts = Schemas.partitionedBy.getOrElse(table, Nil)
    if (parts.headOption.contains(periodCol) && exists(table)) {
      val key = "spark.sql.sources.partitionOverwriteMode"
      val old = spark.conf.getOption(key)
      spark.conf.set(key, "dynamic")
      try incoming.write.mode("overwrite").partitionBy(parts: _*).parquet(tablePath(table))
      finally old match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    } else {
      val kept = read(table).filter(
        date_trunc("month", col(periodCol)) =!= lit(new java.sql.Timestamp(period.getTime)))
      publish(table, kept.unionByName(incoming))
    }
    incoming.count()
  }

  /** Cast/reorder an incoming frame to the registered schema (coerce
    * semantics: cast failures null out, SURVEY §1.2). */
  private def align(table: String, df: DataFrame): DataFrame = {
    val schema: StructType = Schemas.all(table)
    df.select(schema.fields.map(f => graft.functions.Coerce.to(col(f.name), f.dataType)).toIndexedSeq: _*)
  }

  /** Materialize-then-rename publish: write to `.staging`, swap in.
    * Registered partition layouts are applied here, so every full
    * rewrite (overwrite/upsert/bootstrap) lands partitioned. */
  private def publish(table: String, df: DataFrame): Unit = {
    val staging = stagingDir(table)
    stage(table, df, staging)
    swapIn(table, staging)
  }

  private def stagingDir(table: String): Path =
    new Path(s"$root/.staging/${table}_${java.util.UUID.randomUUID()}")

  /** Writes `df` to the `staging` directory in the table's partition
    * layout.
    *
    * REBALANCE before the write (optimization guide §6): AQE sizes the
    * write tasks to the advisory partition size, so a small table lands
    * as one file instead of shuffle-width near-empty ones and a large
    * partitioned table clusters by its partition column (few full files
    * per partition directory, no small-files tax on later reads). Skew in
    * a partition value is still split — REBALANCE, unlike repartition,
    * lets AQE break oversized groups. */
  private def stage(table: String, df: DataFrame, staging: Path): Unit = {
    val parts = Schemas.partitionedBy.getOrElse(table, Nil)
    val sized =
      if (parts.nonEmpty) df.hint("rebalance", parts.map(col): _*)
      else df.hint("rebalance")
    val w = sized.write.mode("overwrite")
    (if (parts.nonEmpty) w.partitionBy(parts: _*) else w).parquet(staging.toString)
  }

  /** Renames a staged directory in as the whole table.
    *
    * Swap order is crash-safe-by-retention: the live table is renamed
    * ASIDE first, then staging renamed in, then the old copy deleted —
    * a crash between the two renames leaves the previous table intact
    * under `.staging/<table>_old_*` (recoverable), never a deleted
    * table. True atomicity needs a metastore pointer swap or an ACID
    * table format (class doc); this is the strongest ordering plain
    * filesystem renames allow. */
  private def swapIn(table: String, staging: Path): Unit = {
    val target = new Path(tablePath(table))
    fs.mkdirs(target.getParent)
    val old = new Path(s"$root/.staging/${table}_old_${java.util.UUID.randomUUID()}")
    val hadOld = fs.exists(target)
    if (hadOld && !fs.rename(target, old))
      throw new IllegalStateException(s"publish failed for $table: rename $target -> $old")
    if (!fs.rename(staging, target)) {
      if (hadOld) fs.rename(old, target) // restore the previous table
      throw new IllegalStateException(s"publish failed for $table: rename $staging -> $target")
    }
    if (hadOld) fs.delete(old, true)
  }

  /** Moves every data file under `from` to the same relative path under
    * `to` (partition directories included); writer markers stay behind. */
  private def moveDataFiles(from: Path, to: Path): Unit = {
    val base = fs.makeQualified(from).toUri
    val files = fs.listFiles(from, true)
    while (files.hasNext) {
      val f = files.next().getPath
      if (!f.getName.startsWith("_") && !f.getName.startsWith(".")) {
        val dest = new Path(to, base.relativize(f.toUri).getPath)
        fs.mkdirs(dest.getParent)
        if (!fs.rename(f, dest))
          throw new IllegalStateException(s"append failed: rename $f -> $dest")
      }
    }
  }

  /** Catalog-registered bucketed copy of a DataFrame — the co-located
    * join layout (SURVEY §4 shuffle notes): two tables bucketed+sorted
    * on the same key join with NO shuffle exchange (and no per-task
    * sort), which is the difference between O(table) network and zero
    * network for repeated fact-fact joins at 100 TB. Bucket metadata
    * lives in the session catalog, so this goes through saveAsTable
    * rather than the path-based writers above.
    *
    * The bucket columns must equal the FULL equi-join key of the
    * downstream join: Spark's co-partition check
    * (`spark.sql.requireAllClusterKeysForCoPartition`, default true)
    * rejects a subset match, shuffles both sides anyway, and then the
    * planner disables the bucketed scan ("Bucketed: false") — i.e. a
    * partial-key bucketing silently buys nothing.
    */
  def writeBucketed(tableName: String, df: DataFrame, buckets: Int,
                    keys: Seq[String]): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .saveAsTable(tableName)

  /** SO2: the unified edge view (`database.py:129-132`), registered as a
    * temp view for the spark.sql query surface (S14). */
  def registerUnifiedView(viewName: String = "vw_composicao_itens_unificados"): Unit = {
    val ins = read("composicao_insumos").select(
      col("composicao_pai_codigo"), col("insumo_filho_codigo").as("item_filho_codigo"),
      col("coeficiente"), lit(Schemas.ItemType.Insumo).as("tipo_item"))
    val subs = read("composicao_subcomposicoes").select(
      col("composicao_pai_codigo"), col("composicao_filho_codigo").as("item_filho_codigo"),
      col("coeficiente"), lit(Schemas.ItemType.Composicao).as("tipo_item"))
    ins.unionByName(subs).createOrReplaceTempView(viewName)
  }
}

object TableStore {
  /** Runs `write`, which must execute `df` exactly once, over `df` with
    * `metric` observed, and returns the metric's value: the count comes
    * from the write itself, with no second pass over the data. A batch
    * that AQE proves empty reports no metric; that reads as 0. */
  def observedCount(df: DataFrame, metric: Column = count(lit(1)))(write: DataFrame => Unit): Long = {
    val observation = Observation()
    write(df.observe(observation, metric.as("n")))
    observation.get.get("n").fold(0L)(_.asInstanceOf[Number].longValue)
  }

  /** Cap on the distinct-period driver-side collect in [[TableStore!.appendIgnore]]:
    * far above any real months-per-batch count, low enough that a
    * mis-typed partition column fails fast instead of OOMing the driver. */
  val MaxCollectedPeriods = 1000
}
