package graft.tools

/** Manual isolated re-measure of named once-per-corpus builds — the
  * hand-driven twin of [[graft.Bench]]'s builds_isolated block, for
  * bisecting a suspect build without paying the full registry sweep.
  *
  * Usage: `runMain graft.tools.BuildBench cosine_pair_graph cc_pair_graph`
  * (env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_BUILD_ISO_RUNS).
  * Per name: one cold first-touch (dependencies may build inside it — the
  * nested costs land in their own `graft.Build.times` rows, printed at
  * the end), then N `rebuild` reps with dependencies cached; the rep
  * median is the contention-robust exclusive cost.
  */
object BuildBench {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: BuildBench <build-name>...")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BUILD_ISO_RUNS", "3").toInt)
    val spark = graft.GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.SparkEntry.queries: Unit // initialize the query objects → builds register
    val known = graft.Build.names
    val unknown = args.filterNot(known)
    require(unknown.isEmpty, s"no build named: ${unknown.mkString(", ")} " +
      s"(known: ${known.toSeq.sorted.mkString(", ")})")
    val out = args.toSeq.map { name =>
      val build = graft.Build.get(name).get
      def run(): Double = {
        val t0 = System.nanoTime()
        build.rebuild(spark, sfDir)
        (System.nanoTime() - t0) / 1e9
      }
      val cold = run()
      val rs = Seq.fill(reps)(run()).sorted
      System.err.println(f"[buildbench] $name cold=$cold%.2f reps=${rs.map(r => f"$r%.2f").mkString(",")}")
      s""""$name":{"cold":$cold,"reps":[${rs.mkString(",")}],"median":${rs(rs.size / 2)}}"""
    }
    val buildRows = graft.Build.times.toSeq.sortBy(_._1)
      .map { case (k, v) => s"\"$k\":$v" }.mkString("{", ",", "}")
    println(s"""{"builds":${out.mkString("{", ",", "}")},"reps":$reps,"build_times_accum":$buildRows,"sf":"$sfDir"}""")
    spark.stop()
  }
}
