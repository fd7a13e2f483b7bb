package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Date operators.
  *
  * Reference semantics (/root/reference):
  *  - F7 coerce-to-null parse: `pd.to_datetime(c, errors='coerce',
  *    format='%d/%m/%Y')`, `airflow/dags/tasks/bronze.py:55-58`. Spark's
  *    `to_date` with the CORRECTED parser returns NULL on malformed input,
  *    matching `coerce`; `try_to_date` is used as the belt-and-braces form so
  *    a future strict-parser session config can never turn this into a throw.
  *
  * F8 year extraction (`df['ano'] = col.dt.year`, `silver.py:69`) is one
  * `year(...)` column inline in [[graft.pipeline.Silver.transform]].
  */
object Dates {
  val BrazilianFormat = "dd/MM/yyyy"

  /** F7 — parse a string column to date, malformed → NULL. */
  def parseDate(c: Column, fmt: String = BrazilianFormat): Column =
    try_to_timestamp(c, lit(fmt)).cast("date")

  def parseDateCols(df: DataFrame, cols: Seq[String], fmt: String = BrazilianFormat): DataFrame =
    df.withColumns(cols.map(c => c -> parseDate(col(c), fmt)).toMap)
}
