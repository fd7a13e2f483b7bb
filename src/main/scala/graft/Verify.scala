package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated name prefixes to run (local debug)
    val only: String => Boolean =
      if (args.length > 2) { val ps = args(2).split(','); n => ps.exists(n.startsWith) }
      else _ => true
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // build directories live next to the dump, not in the temp root
    // deleted at exit: the x_sim_ivf_layout oracle reads the written layout
    Build.keepScratchIn(Paths.get(outDir).toAbsolutePath.normalize.toString + ".builds")
    // Per-query watchdog: one pathological query must not wedge the whole
    // correctness run (the driver flags a stall after 1h). On timeout the
    // query's job group is cancelled and the loop moves on.
    val timeoutMs = sys.env.getOrElse("SPARK_GRAFT_QUERY_TIMEOUT_S", "600").toLong * 1000
    // A failed query must be VISIBLE, never silent absence (round 6 lost 18
    // entries from the driver gate this way): write an _ERROR sentinel into
    // the query's output dir so the gate records an explicit FAIL row.
    def writeError(name: String, msg: String): Unit = {
      val dir = Paths.get(s"$outDir/$name")
      Files.createDirectories(dir)
      Files.writeString(dir.resolve("_ERROR"), msg)
    }
    SparkEntry.queries.filter(kv => only(kv._1)).foreach { case (name, fn) =>
      val worker = new Thread(() => {
        try {
          spark.sparkContext.setJobGroup(s"verify-$name", name, interruptOnCancel = true)
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          writeError(name, s"${e.getClass.getName}: ${e.getMessage}")
        }
      }, s"verify-$name")
      worker.setDaemon(true)
      worker.start()
      worker.join(timeoutMs)
      if (worker.isAlive) {
        System.err.println(s"[verify] $name TIMED OUT after ${timeoutMs / 1000}s; cancelling")
        spark.sparkContext.cancelJobGroup(s"verify-$name")
        // wait until the worker is actually DEAD before removing output —
        // deleting while it can still complete its write would let a
        // zombie recreate the dir with partial data afterwards
        var grace = 0
        while (worker.isAlive && grace < 8) { worker.join(30000); grace += 1 }
        val dir = new java.io.File(s"$outDir/$name")
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete(): Unit
        }
        if (worker.isAlive) {
          // can't safely delete under a live writer — poison the dir instead
          // so partial parquet can never be mistaken for a completed result
          System.err.println(s"[verify] $name worker uncancellable; marking dir _ERROR")
          writeError(name, s"TIMEOUT after ${timeoutMs / 1000}s (worker uncancellable; any parquet here is partial)")
        } else {
          // a cancelled write may leave a partial parquet dir — remove it,
          // then record the timeout as an explicit FAIL row, never absence
          if (dir.exists()) rm(dir)
          writeError(name, s"TIMEOUT after ${timeoutMs / 1000}s")
        }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
