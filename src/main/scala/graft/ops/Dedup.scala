package graft.ops

import org.apache.spark.sql.DataFrame

/** Exact deduplication operators.
  *
  * Reference semantics (/root/reference):
  *  - P5 distinct: `drop_duplicates()` over an all-column projection,
  *    `airflow/dags/tasks/silver.py:72`, `gold.py:51`.
  *
  * Physical shape: Spark plans `dropDuplicates()` as a hash aggregate on all
  * columns — partial (map-side) aggregation first, then one shuffle on the
  * full row hash. That is the correct distributed plan at 100 TB: the shuffle
  * only carries already-locally-deduped rows. pandas keep-first vs Spark
  * keep-arbitrary is irrelevant when deduping on ALL columns (the only
  * reference use), since surviving rows are identical.
  *
  * Near-duplicate (MinHash/SimHash/Jaccard) dedup lives in `graft.ext`.
  */
object Dedup {

  /** P5 — distinct over all columns. */
  def distinctAll(df: DataFrame): DataFrame = df.dropDuplicates()
}
