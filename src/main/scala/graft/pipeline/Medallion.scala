package graft.pipeline

import org.apache.spark.sql.SparkSession
import graft.io.Sinks

/** The batch medallion: the reference's whole DAG (dag_main.py:79), a daily
  * full rebuild of bronze, silver and the four gold outputs, as one call.
  *
  * Each layer reads the directory the previous one wrote, bronze and silver
  * with their declared [[Schemas]] (no footer-inference job). Gold is
  * derived once and written through [[Gold.sinks]], `gld_acordos`
  * partitioned by `ano` so BI predicates prune files. Nothing is persisted:
  * the session's storage is the same after a run as before it.
  */
object Medallion {

  /** Rebuild `out/{bronze, silver, gld_acordos, gld_hier, gld_pais,
    * gld_org}` from the raw-header parquet under `landing`, which must hold
    * at least one row.
    */
  def run(spark: SparkSession, landing: String, out: String): Unit = {
    Sinks.writeParquet(
      Bronze.transform(Bronze.requireNonEmpty(spark.read.parquet(landing), "landing")),
      s"$out/bronze")
    Sinks.writeParquet(
      Silver.transform(spark.read.schema(Schemas.bronze).parquet(s"$out/bronze")),
      s"$out/silver")
    val derived = Gold.derive(spark.read.schema(Schemas.silver).parquet(s"$out/silver"))
    Gold.sinks.foreach { case (name, f) =>
      Sinks.writeParquet(f(derived), s"$out/gld_$name",
        partitionBy = if (name == "acordos") Seq("ano") else Nil)
    }
  }
}
