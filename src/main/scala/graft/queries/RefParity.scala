package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.GraftFunctions
import graft.queries.Util._

/** Reference-parity operators (SURVEY.md §2), each exercised against the
  * driver's testdata stand-in tables and oracle-checked against DuckDB.
  * The acordos-domain pipelines themselves (Bronze/Silver/Gold) run on
  * fixture data in the scalatest suites; these registry entries prove the
  * same operator semantics on the shared tables the oracle can see.
  */
object RefParity {

  type Q = (SparkSession, String) => DataFrame

  /** The ref_silver_clean transform chain as a function (shared by the
    * batch entry below and the incremental twin — same code path, so the
    * twin proves the STREAMING execution, not a reimplementation).
    */
  private def silverChain(df: DataFrame): DataFrame =
    df.select(
        when(col("o_orderstatus") === "F", lit(null)).otherwise(col("o_orderstatus")).as("status"),
        col("o_orderpriority"), col("o_orderdate"))
      .na.fill("não informado", Seq("status"))
      .select(
        initcap(trim(col("status"))).as("status"),
        initcap(trim(col("o_orderpriority"))).as("prioridade"),
        year(col("o_orderdate")).as("ano"))
      .dropDuplicates()

  /** Incremental-run result dir per (application, corpus): stages orders
    * into a landing dir in TWO arrival waves and runs the silver chain as
    * a `Trigger.AvailableNow` file-stream between them — the second run
    * processes only the second wave's files (checkpoint-tracked), and the
    * streaming `dropDuplicates` state carries across runs, so the final
    * table equals the batch distinct over all rows. That equality is what
    * the shared ref_silver_clean oracle SQL checks.
    */
  private val incrementalSilverFor = graft.Build[String]("incremental_silver_staging") { (s, dir) =>
    val root = graft.Build.scratch("graft-incr")
    val landing = s"$root/landing"; val out = s"$root/silver"
    val orders = graft.Tables.orders(s, dir)
    // wave 1: even order keys land, run; wave 2: odd keys land, run again
    orders.filter(col("o_orderkey") % 2 === 0)
      .write.mode("append").parquet(landing)
    graft.pipeline.IncrementalMedallion.runLayer(
      s, landing, orders.schema, silverChain, out, s"$root/ckpt")
    orders.filter(col("o_orderkey") % 2 === 1)
      .write.mode("append").parquet(landing)
    graft.pipeline.IncrementalMedallion.runLayer(
      s, landing, orders.schema, silverChain, out, s"$root/ckpt")
    out
  }

  val queries: Map[String, Q] = Map(
    // P1+F7+F2+F3 — bronze normalize: dd/MM/yyyy coerce-parse + trim + truncate
    "ref_bronze_normalize" -> ((s: SparkSession, dir: String) => {
      Tables.orders(s, dir).select(
        col("o_orderkey"),
        date_format(
          try_to_timestamp(date_format(col("o_orderdate"), "dd/MM/yyyy"), lit("dd/MM/yyyy")),
          "yyyy-MM-dd").as("data_parsed"),
        substring(trim(col("o_orderpriority")), 1, 255).as("prioridade"))
    }),

    // F9+F6+F2+F4+F8+P2+P5 — the silver chain on orders (initcap variant so
    // the oracle can mirror it; pandas-exact variant is unit-tested)
    "ref_silver_clean" -> ((s: SparkSession, dir: String) =>
      silverChain(Tables.orders(s, dir))),

    // D1+F5 — null-propagating hierarchy concat over a broadcast join
    "ref_gold_hier" -> ((s: SparkSession, dir: String) => {
      Tables.nation(s, dir)
        .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
        .select(
          concat(col("r_name"), lit(" > "), col("n_name")).as("local_completo"),
          concat(col("n_name"), lit(" - "), col("n_regionkey")).as("acordo_recurso"))
    }),

    // P4+P3+P5 — equality filter + projection + distinct (gold split)
    "ref_gold_split" -> ((s: SparkSession, dir: String) => {
      Tables.customer(s, dir)
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_name"), col("c_nationkey"))
        .dropDuplicates()
    }),

    // F6 — value replace + group count
    "ref_nulls_replace" -> ((s: SparkSession, dir: String) => {
      Tables.orders(s, dir)
        .na.replace(Seq("o_orderstatus"), Map("O" -> "open"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"))
    }),

    // P5 — distinct over a projection
    "ref_dedup_distinct" -> ((s: SparkSession, dir: String) => {
      Tables.lineitem(s, dir)
        .select(col("l_returnflag"), col("l_linestatus"))
        .dropDuplicates()
    }),

    // O-incremental — the silver chain run as an AvailableNow file stream
    // in two arrival waves with cross-run dedup state; oracle-checked
    // against the same batch SQL as ref_silver_clean, proving the
    // incremental output converges to the batch answer
    "ref_incremental_silver" -> ((s: SparkSession, dir: String) => {
      s.read.parquet(incrementalSilverFor(s, dir))
    }),

    // F4 pandas-exact title-case (custom codegen expression; no SQL oracle —
    // DuckDB cannot express Python title() semantics → rows-only check)
    "ref_pandas_title" -> ((s: SparkSession, dir: String) => {
      Tables.documents(s, dir)
        .select(col("doc_id"), GraftFunctions.pandas_title(col("text")).as("titled"))
    })
  )

  val oracleSql: Map[String, String] = Map(
    "ref_bronze_normalize" ->
      """SELECT o_orderkey,
        |  strftime(strptime(strftime(o_orderdate, '%d/%m/%Y'), '%d/%m/%Y'), '%Y-%m-%d') AS data_parsed,
        |  substring(trim(o_orderpriority), 1, 255) AS prioridade
        |FROM orders""".stripMargin,

    "ref_silver_clean" ->
      s"""WITH t AS (
         |  SELECT coalesce(nullif(o_orderstatus, 'F'), 'não informado') AS status,
         |         o_orderpriority, o_orderdate
         |  FROM orders)
         |SELECT DISTINCT
         |  ${sqlInitcap("trim(status)")} AS status,
         |  ${sqlInitcap("trim(o_orderpriority)")} AS prioridade,
         |  CAST(year(o_orderdate) AS INT) AS ano
         |FROM t""".stripMargin,

    "ref_incremental_silver" ->
      s"""WITH t AS (
         |  SELECT coalesce(nullif(o_orderstatus, 'F'), 'não informado') AS status,
         |         o_orderpriority, o_orderdate
         |  FROM orders)
         |SELECT DISTINCT
         |  ${sqlInitcap("trim(status)")} AS status,
         |  ${sqlInitcap("trim(o_orderpriority)")} AS prioridade,
         |  CAST(year(o_orderdate) AS INT) AS ano
         |FROM t""".stripMargin,

    "ref_gold_hier" ->
      """SELECT r_name || ' > ' || n_name AS local_completo,
        |       n_name || ' - ' || n_regionkey AS acordo_recurso
        |FROM nation JOIN region ON n_regionkey = r_regionkey""".stripMargin,

    "ref_gold_split" ->
      "SELECT DISTINCT c_name, c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'",

    "ref_nulls_replace" ->
      s"""SELECT CASE WHEN o_orderstatus = 'O' THEN 'open' ELSE o_orderstatus END AS o_orderstatus,
         |       ${sqlCount()} AS n
         |FROM orders GROUP BY 1""".stripMargin,

    "ref_dedup_distinct" ->
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem"
  )
}
