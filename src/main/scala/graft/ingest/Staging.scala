package graft.ingest

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.config.EngineConfig

/** Header-not-found error path of the reference (processor.py:175-178). */
final class HeaderNotFoundException(msg: String) extends RuntimeException(msg)

/** Raw-sheet staging: headerless `;`-CSV → located header → normalized
  * column names → string-typed DataFrame with a `__line` file-order
  * column (SURVEY §2.1 S5, §2.2 P1/P2).
  *
  * Design split (mirrors the reference's own shape): header discovery is
  * a bounded driver-side scan of the first HEADER_SEARCH_LIMIT lines
  * (`processor.py:86`, `config.py:72`); only rows BELOW the header are
  * scanned distributedly. `__line` makes pandas' implicit file-order
  * semantics (keep-first dedup) explicit and deterministic under Spark
  * parallelism.
  */
object Staging {

  /** Driver-side bounded prefix read (header metadata only). */
  def headRows(spark: SparkSession, path: String, sep: String, limit: Int): Seq[Seq[String]] =
    spark.sparkContext.textFile(path).take(limit)
      .map(_.split(java.util.regex.Pattern.quote(sep), -1).toSeq).toSeq

  /** Distributed read of everything below `headerIdx`, parsed per line
    * with Spark's CSV parser (`from_csv`) into `names`-typed strings.
    * zipWithIndex assigns file-order indices (deterministic for a text
    * source), carried through as `__line`.
    *
    * LAZILY checkpointed: a staged sheet feeds several downstream
    * actions per pipeline run (the Analítico sheet feeds both edge
    * reloads and the catalog publishes), and zipWithIndex itself runs
    * an extra partition-count job per recompute — without the mark,
    * every action re-reads and re-parses the file (r10 verdict: the
    * staged frame was recomputed per downstream action). One action
    * parses; the rest read the blocks.
    */
  def dataBelowHeader(spark: SparkSession, path: String, sep: String,
                      headerIdx: Int, names: Seq[String]): DataFrame = {
    val indexed = spark.sparkContext.textFile(path).zipWithIndex()
      .filter(_._2 > headerIdx)
    val df = spark.createDataset(indexed)(
      Encoders.tuple(Encoders.STRING, Encoders.scalaLong))
      .toDF("__value", "__line")
    val schema = StructType(names.map(n => StructField(n, StringType)))
    df.select(
        from_csv(col("__value"), schema, Map("sep" -> sep)).as("__r"),
        col("__line"))
      .select(col("__r.*"), col("__line"))
      .localCheckpoint(eager = false)
  }

  /** S5+P1+P2: stage a single-row-header sheet. */
  def stage(spark: SparkSession, path: String, headerKeywords: Seq[String],
            cfg: EngineConfig): DataFrame = {
    val sep = cfg("CSV_SEPARATOR")
    val limit = cfg.int("HEADER_SEARCH_LIMIT")
    val head = headRows(spark, path, sep, limit)
    val hIdx = HeaderLocator.locate(head, headerKeywords, limit).getOrElse(
      throw new HeaderNotFoundException(
        s"header row not found in first $limit lines of $path (keywords=$headerKeywords)"))
    val names = HeaderLocator.normalizedColumns(head(hIdx))
    dataBelowHeader(spark, path, sep, hIdx, names)
  }

  /** W2: stage a TWO-row-header cost sheet — the row above the keyword
    * header carries UF codes (forward-filled), fused as `{UF}_{subcol}`
    * (processor.py:366-378).
    */
  def stageTwoRowHeader(spark: SparkSession, path: String, headerKeywords: Seq[String],
                        cfg: EngineConfig): DataFrame = {
    val sep = cfg("CSV_SEPARATOR")
    val limit = cfg.int("HEADER_SEARCH_LIMIT")
    val head = headRows(spark, path, sep, limit)
    val hIdx = HeaderLocator.locate(head, headerKeywords, limit).getOrElse(
      throw new HeaderNotFoundException(
        s"header row not found in first $limit lines of $path (keywords=$headerKeywords)"))
    val names =
      if (hIdx == 0) HeaderLocator.normalizedColumns(head(hIdx))
      else HeaderLocator.fuseTwoRowHeader(head(hIdx - 1), head(hIdx))
    dataBelowHeader(spark, path, sep, hIdx, names)
  }
}
