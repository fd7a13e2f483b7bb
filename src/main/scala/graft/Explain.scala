package graft

import org.apache.spark.sql.SparkSession

/** Plan inspection + warm timing for a single registry query:
  * `sbt "runMain graft.Explain <queryName> [sfDir] [reps]"`.
  * Prints the formatted physical plan (check PushedFilters / ReadSchema /
  * WholeStageCodegen spans) and runs the query `reps` times (default 2)
  * against the noop sink (run 1 = cold, rest = warm JIT) — the iterate
  * loop SURVEY.md §4 calls for.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    // the frame is RE-CONSTRUCTED inside each timed rep (the Bench.once
    // protocol): entries that materialize eagerly (the caller-owns-storage
    // family — EditDist, estimateVsExactMd5) do their work at
    // construction time, so timing only the noop write of a pre-built
    // frame would measure a cache read. Planning/codegen lands in every
    // rep; run 1 additionally pays first-touch JIT, so it stays the
    // "cold" number.
    val times = (1 to reps).map { i =>
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.mode("overwrite").format("noop").save()
      val t = (System.nanoTime() - t0) / 1e9
      println(f"[explain] $name run$i: $t%.3f s")
      t
    }
    if (reps >= 3) {
      val warm = times.drop(1).sorted
      println(f"[explain] $name warm-median: ${warm(warm.size / 2)}%.3f s over ${warm.size} reps")
    }
    // one-time-per-corpus builds triggered by this query (they run at
    // DataFrame-construction time, before the timed reps — itemize them
    // here the way Bench does, or a cached-ledger query looks free)
    if (Build.times.nonEmpty)
      println("[explain] builds: " + Build.times.toSeq.sortBy(_._1)
        .map { case (k, v) => f"$k=$v%.2f s" }.mkString(", "))
    spark.stop()
  }
}
