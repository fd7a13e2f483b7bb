package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Incremental medallion (SURVEY §7.4): AvailableNow file-stream runs with
  * checkpoint restart — no reprocessing of seen files, cross-run dedup
  * state, and convergence to the batch pipeline's answer.
  */
class IncrementalMedallionSpec extends SparkSpec {
  import spark.implicits._

  private val rawSchema = StructType(
    Schemas.rawHeaders.map(h => StructField(h, StringType)))

  private def raw(rows: Seq[(String, String, String, String, String, String,
      String, String, String, String, String, String, String)]): DataFrame =
    rows.toDF(Schemas.rawHeaders: _*)

  private val franca = ("01/02/2010", " frança ", "País", "Europa",
    "Europa Ocidental", "Paris", "bilateral", "acordo d'água", "cooperação",
    "hídricos", "memorando", "01/02/2020", "http://a")
  private val onu = ("03/04/2015", "ONU", "Organização", "-", null: String,
    "Genebra", "multilateral", "tratado do mar", "-", null: String, "tratado",
    null: String, null: String)
  private val chile = ("05/06/2018", "chile", "País", "América",
    "América do Sul", "Santiago", "bilateral", "acordo solar", "energia",
    "solares", "memorando", "05/06/2028", "http://c")

  test("incremental runs: restart skips seen files, dedup state crosses runs, twin == batch") {
    val root = scratch("incr-spec")
    val dirs = IncrementalMedallion.Dirs(root)

    // wave 1: França twice (exact dup) + ONU
    raw(Seq(franca, franca, onu)).write.mode("append").parquet(dirs.landing)
    IncrementalMedallion.runAcordos(spark, dirs, rawSchema)
    val bronze1 = spark.read.parquet(dirs.bronze).count()
    val silver1 = spark.read.parquet(dirs.silver).count()
    assert(bronze1 === 3) // bronze is stateless: all raw rows land
    assert(silver1 === 2) // silver dedups the exact dup

    // RESTART with nothing new: the file sources' checkpoints already list
    // every landing/bronze/silver file, so no layer reprocesses anything
    IncrementalMedallion.runAcordos(spark, dirs, rawSchema)
    assert(spark.read.parquet(dirs.bronze).count() === bronze1,
      "bronze re-appended rows on a no-new-data restart")
    assert(spark.read.parquet(dirs.silver).count() === silver1,
      "silver re-emitted rows on a no-new-data restart")

    // wave 2: a France dup (already in silver state from run 1) + Chile
    raw(Seq(franca, chile)).write.mode("append").parquet(dirs.landing)
    IncrementalMedallion.runAcordos(spark, dirs, rawSchema)
    assert(spark.read.parquet(dirs.bronze).count() === bronze1 + 2,
      "bronze must append exactly the new files' rows")
    assert(spark.read.parquet(dirs.silver).count() === silver1 + 1,
      "silver dedup state must recognize the wave-1 duplicate across runs")

    // batch twin: the incremental silver table equals the batch pipeline
    // over all raw data (the registry entry ref_incremental_silver pins the
    // same convergence against the DuckDB oracle on the orders table)
    val incr = spark.read.parquet(dirs.silver)
    val batch = Silver.transform(Bronze.transform(
      spark.read.schema(rawSchema).parquet(dirs.landing)))
    def key(df: DataFrame) =
      df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    assert(key(incr) === key(batch))

    // gold fan-out: every sink equals the batch gold over the same silver
    // by row (acordos is the globally distinct silver passed through;
    // pais/org filters partition the derived rows)
    val batchGold = Gold.transform(batch)
    for ((name, want) <- Seq("acordos" -> batchGold.acordos, "hier" -> batchGold.hier,
        "pais" -> batchGold.pais, "org" -> batchGold.org))
      assert(key(IncrementalMedallion.readFanOut(spark, dirs.gold(name))) === key(want),
        s"gold_$name differs from the batch gold")
    assert(key(batchGold.acordos) === key(incr))
    assert(batchGold.hier.count() === 3)
    assert(batchGold.pais.count() === 2 && batchGold.org.count() === 1)
  }

  test("fan-out replays an uncommitted batch onto the same dir — no duplicates") {
    // foreachBatch runs BEFORE the checkpoint commit: a crash in between
    // leaves the batch's output written but uncommitted, and the restart
    // re-runs it with the SAME batch id. The per-batch overwrite dirs make
    // that replay idempotent; this constructs exactly that state by
    // deleting the commit marker and restarting.
    val root = scratch("replay")
    val landing = s"$root/landing"; val out = s"$root/out"; val ckpt = s"$root/ckpt"
    raw(Seq(franca, onu)).write.mode("append").parquet(landing)
    def run(): Unit = IncrementalMedallion.runFanOut(
      spark, landing, rawSchema,
      Seq(((b: org.apache.spark.sql.DataFrame) => b, out)), ckpt)
    run()
    val n1 = IncrementalMedallion.readFanOut(spark, out).count()
    assert(n1 === 2)
    // crash state: batch written, commit marker gone (a real crash between
    // foreachBatch and commit leaves neither the marker nor its checksum)
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    assert(commits.nonEmpty)
    val crc = new java.io.File(commits.last.getParent, s".${commits.last.getName}.crc")
    assert(commits.last.delete())
    if (crc.exists()) assert(crc.delete())
    run() // restart replays the batch with the same id
    assert(IncrementalMedallion.readFanOut(spark, out).count() === n1,
      "replayed batch must overwrite its own dir, not append duplicates")
  }
}
