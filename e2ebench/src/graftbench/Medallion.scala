package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.io.Sinks
import graft.pipeline.{Bronze, Gold, Silver}

/** `medallion_batch`: the reference DAG's daily full rebuild. Each step
  * reads the landing parquet and rewrites bronze, silver and the four gold
  * sinks (`gld_acordos` partitioned by `ano`). Nearly all the work is the
  * silver fill/title-case/distinct pass and the gold fan-out, which the
  * corpus workloads never run.
  */
final class Medallion(spark: SparkSession, dir: String, seed: Long) extends Workload {
  // 20k unique rows + 10% exact + 15% near copies = 25k landing rows:
  // about 3-4 s per rebuild on 4 cores, much of it per-job cost
  private val Unique = 20000
  private val parts = spark.sparkContext.defaultParallelism
  private val landing = s"$dir/in/landing"
  private val out = s"$dir/out"
  private var truth: Gen.Acordos = _
  private var silverRows, bronzeRows = 0L

  def generate(): Seq[(String, Any)] = {
    truth = Gen.acordos(spark, landing, seed, Unique, 0.10, 0.15, parts)
    truth.props
  }

  /** Two rebuilds into scratch outputs: the first is cold, and the timed
    * rebuilds still speed up noticeably after it as the JIT compiles.
    */
  def warmUp(t: Trace): Unit = (1 to 2).foreach(_ => rebuild(landing, s"$dir/warm", None))

  def step(i: Int, t: Trace): Long = { rebuild(landing, out, Some(t)); truth.landingRows }

  private def rebuild(src: String, o: String, t: Option[Trace]): Unit = {
    def span(name: String)(body: => Unit): Unit = t.fold(body)(_.span(name)(body))
    span("pipeline.bronze") {
      Sinks.writeParquet(
        Bronze.transform(Bronze.requireNonEmpty(spark.read.parquet(src), "landing")),
        s"$o/bronze")
    }
    span("pipeline.silver") {
      Sinks.writeParquet(Silver.transform(spark.read.parquet(s"$o/bronze")), s"$o/silver")
    }
    span("pipeline.gold") {
      val g = Gold.transform(spark.read.parquet(s"$o/silver"))
      Sinks.writeParquet(g.acordos, s"$o/gld_acordos", partitionBy = Seq("ano"))
      Sinks.writeParquet(g.hier, s"$o/gld_hier")
      Sinks.writeParquet(g.pais, s"$o/gld_pais")
      Sinks.writeParquet(g.org, s"$o/gld_org")
    }
    // Gold keeps its derived frame persisted and never hands it back; the
    // next rebuild reads a rewritten silver with the same plan and would
    // otherwise be served the previous rebuild's cached blocks
    spark.catalog.clearCache()
  }

  def checks(): Seq[(String, Boolean)] = {
    def rows(t: String) = spark.read.parquet(s"$out/$t").count()
    bronzeRows = rows("bronze")
    val silver = spark.read.parquet(s"$out/silver")
    silverRows = silver.count()
    val maxTitle = silver.agg(max(length(col("título")))).head().getInt(0)
    val anoDirs = Option(new java.io.File(s"$out/gld_acordos").list()).toSeq.flatten
      .count(_.startsWith("ano="))
    Seq(
      "bronze_rows" -> (bronzeRows == truth.landingRows),
      "silver_rows" -> (silverRows == truth.uniqueRows),
      "silver_distinct" -> (silver.distinct().count() == silverRows),
      "titulo_max_255" -> (maxTitle <= 255),
      "gld_acordos_rows" -> (rows("gld_acordos") == truth.uniqueRows),
      "gld_acordos_by_ano" -> (anoDirs > 1),
      "gld_hier_rows" -> (rows("gld_hier") == truth.uniqueRows),
      "gld_pais_rows" -> (rows("gld_pais") == truth.paisRows),
      "gld_org_rows" -> (rows("gld_org") == truth.orgRows))
  }

  def bytesStoredPerInputByte(): Double =
    Seq("bronze", "silver", "gld_acordos", "gld_hier", "gld_pais", "gld_org")
      .map(t => Gen.bytesUnder(s"$out/$t")).sum.toDouble / truth.bytes

  /** Planted near-copies whose serial has exactly one silver row. */
  def nearDupRecall(): Double = {
    import spark.implicits._
    val multi = spark.read.parquet(s"$out/silver")
      .select(regexp_extract(col("título"), "^Ac(\\d{7})", 1).cast("int").as("s"))
      .groupBy("s").count().filter(col("count") > 1).select("s").as[Int].collect().toSet
    1.0 - truth.nearDupSerials.count(multi.contains).toDouble / truth.nearDups
  }

  override def layerExtras(): Map[String, Double] =
    Map("pipeline.silver.dedup_ratio" -> silverRows.toDouble / bronzeRows)
}
