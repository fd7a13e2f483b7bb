package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Column-name + string normalization operators.
  *
  * Reference semantics (cited file:line are in /root/reference):
  *  - P1 rename-all-columns: lowercase + spaces→underscores,
  *    `airflow/dags/tasks/bronze.py:49-51`.
  *  - F2 trim: `.str.strip()`, `bronze.py:61`, `silver.py:56-65`.
  *  - F3 truncate-to-255: `.str[:255]`, `bronze.py:62`.
  *  - F4 title-case: pandas `.str.title()`, `silver.py:56-65`. Spark's
  *    `initcap` only capitalizes after whitespace while pandas capitalizes
  *    after ANY non-letter ("d'água" → "D'Água"); exact parity is provided by
  *    the codegen'd [[graft.functions.PandasTitle]] expression, which
  *    [[graft.pipeline.Silver.transform]] applies; [[cleanText]] is the
  *    `initcap` variant.
  *
  * All helpers are single-`select` (or `withColumns`) so Catalyst's
  * `CollapseProject` + whole-stage codegen fuse them into one pass over the
  * data — unlike the reference's 10 sequential full-frame pandas passes
  * (`silver.py:56-65`).
  */
object Normalize {

  /** P1 — normalize every column name: lowercase, spaces → underscores. */
  def normalizeColumnNames(df: DataFrame): DataFrame =
    df.toDF(df.columns.map(normalizeName): _*)

  def normalizeName(c: String): String = c.trim.toLowerCase.replace(' ', '_')

  /** F2 — trim the given string columns (all in one projection). */
  def trimCols(df: DataFrame, cols: Seq[String]): DataFrame =
    df.withColumns(cols.map(c => c -> trim(col(c))).toMap)

  /** F3 — truncate the given string columns to `n` chars (reference: 255). */
  def truncateCols(df: DataFrame, cols: Seq[String], n: Int = 255): DataFrame =
    df.withColumns(cols.map(c => c -> substring(col(c), 1, n)).toMap)

  /** F2+F4 fused (the silver layer's per-column chain, one projection). */
  def cleanText(c: Column): Column = initcap(trim(c))
}
