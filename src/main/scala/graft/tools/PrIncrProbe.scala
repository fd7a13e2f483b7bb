package graft.tools

import org.apache.spark.sql.SparkSession

/** One-off timing probe for the incremental-PageRank entry: times each
  * CONSTRUCTION+save invocation (the bench's `once` shape) of the entry
  * against the plain ledger recompute, to attribute guard/fallback
  * overhead. `sbt "runMain graft.tools.PrIncrProbe [sfDir] [reps]"`.
  */
object PrIncrProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val reps = if (args.length > 1) args(1).toInt else 3
    val spark = graft.GraftSession.builder(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def once(name: String)(fn: => Unit): Unit = (1 to reps).foreach { i =>
      val t0 = System.nanoTime()
      fn
      println(f"[probe] $name run$i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    // prime the prestate build outside the timing
    val t0 = System.nanoTime()
    graft.SparkEntry.queries("x_graph_pagerank_incremental")(spark, sfDir)
      .write.mode("overwrite").format("noop").save()
    println(f"[probe] first-touch (incl. prestate build): ${(System.nanoTime() - t0) / 1e9}%.2f s")
    once("x_graph_pagerank_incremental") {
      graft.SparkEntry.queries("x_graph_pagerank_incremental")(spark, sfDir)
        .write.mode("overwrite").format("noop").save()
    }
    once("x_graph_pagerank (ledger serve)") {
      graft.SparkEntry.queries("x_graph_pagerank")(spark, sfDir)
        .write.mode("overwrite").format("noop").save()
    }
    println("[probe] builds: " + graft.Build.times.toSeq.sortBy(_._1)
      .map { case (k, v) => f"$k=$v%.2f s" }.mkString(", "))
    spark.stop()
  }
}
