package graft.ops

import org.apache.spark.sql.DataFrame

/** Column-name normalization.
  *
  * Reference semantics (cited file:line are in /root/reference):
  *  - P1 rename-all-columns: lowercase + spaces→underscores,
  *    `airflow/dags/tasks/bronze.py:49-51`.
  *
  * The string passes are inline column expressions in the layers that run
  * them: F2 trim (`.str.strip()`, `bronze.py:61`, `silver.py:56-65`) and F3
  * truncate-to-255 (`.str[:255]`, `bronze.py:62`) in
  * [[graft.pipeline.Bronze.transform]]; F2 and F4 title-case (pandas
  * `.str.title()`, `silver.py:56-65`, exact through the codegen'd
  * [[graft.functions.PandasTitle]], since Spark's `initcap` capitalizes only
  * after whitespace) in [[graft.pipeline.Silver.transform]].
  */
object Normalize {

  /** P1 — normalize every column name: lowercase, spaces → underscores. */
  def normalizeColumnNames(df: DataFrame): DataFrame =
    df.toDF(df.columns.map(normalizeName): _*)

  def normalizeName(c: String): String = c.trim.toLowerCase.replace(' ', '_')
}
