package graft.clean

import graft.functions.Normalize
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Silver-layer cleaning pipelines — SparkCleaner parity
  * (spark_cleaner.py:74-288, SURVEY §7.1 module 4): sentinel-null
  * normalization (P8), PK-quality filters (P3), latest-per-key window
  * dedup (W1/W2), typed fills (F15/F16), truncation (F17) — each a
  * `DataFrame => DataFrame`, composable with andThen.
  *
  * Schema-tolerant by design (reference guards every step with
  * `if col in df.columns`): steps no-op on absent columns.
  */
object Cleaner {

  type Step = DataFrame => DataFrame

  private def has(df: DataFrame, c: String) = df.columns.contains(c)

  /** P8: sentinel strings → real NULL across the given string columns. */
  def normalizeNulls(cols: Seq[String]): Step = df =>
    cols.filter(has(df, _)).foldLeft(df)((d, c) =>
      d.withColumn(c, Normalize.nullifySentinels(col(c))))

  /** P3: drop rows whose primary key is null or blank. */
  def filterValidPk(pk: String): Step = df =>
    if (!has(df, pk)) df
    else df.filter(col(pk).isNotNull && trim(col(pk).cast("string")) =!= "")

  /** W1: latest-per-key dedup — row_number over orderCol desc with the
    * pk as a deterministic tiebreaker. Falls back to dropDuplicates
    * when no order column exists (the reference's fallback chain,
    * spark_cleaner.py:109-114). */
  def dedupLatest(pk: String, orderCol: String): Step = df =>
    if (!has(df, pk)) df
    else if (!has(df, orderCol)) df.dropDuplicates(pk)
    else {
      val w = Window.partitionBy(col(pk)).orderBy(col(orderCol).desc, col(pk).desc)
      df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
    }

  /** F15: per-column default fills with coalesce chains. */
  def fillStringDefaults(defaults: Map[String, String]): Step = df =>
    df.na.fill(defaults.filter { case (c, _) => has(df, c) })

  /** F16: numeric fills. */
  def fillNumericDefaults(cols: Seq[String], value: Double = 0.0): Step = df =>
    df.na.fill(value, cols.filter(has(df, _)))

  /** F17: truncation per column. */
  def truncate(limits: Map[String, Int]): Step = df =>
    limits.filter { case (c, _) => has(df, c) }.foldLeft(df) {
      case (d, (c, n)) => d.withColumn(c, substring(col(c), 1, n))
    }

  /** Compose steps left-to-right. */
  def pipeline(steps: Step*): Step = steps.reduceLeft(_ andThen _)

  /** The events-entity cleaning pipeline used by the silver phase:
    * pk filter → sentinel nulls on string cols → dedup latest by ts →
    * fills. Mirrors clean_markets' shape (spark_cleaner.py:96-157). */
  def cleanEvents: Step = pipeline(
    filterValidPk("event_id"),
    normalizeNulls(Seq("event_type", "props")),
    dedupLatest("event_id", "ts"),
    fillStringDefaults(Map("event_type" -> "unknown", "props" -> "{}")),
    fillNumericDefaults(Seq("value")))

  /** The documents-entity pipeline: pk filter → sentinel nulls →
    * content dedup (fingerprint, keep lowest doc_id) → truncate. */
  def cleanDocuments(maxLen: Int = 5000): Step = pipeline(
    filterValidPk("doc_id"),
    normalizeNulls(Seq("lang", "source")),
    df => {
      val w = Window.partitionBy(graft.functions.TextAnalysis.fingerprint(col("text")))
        .orderBy(col("doc_id").asc)
      df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
    },
    truncate(Map("text" -> maxLen)))
}
