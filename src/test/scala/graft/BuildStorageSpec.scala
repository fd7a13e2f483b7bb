package graft

/** Storage-leak gate for the once-per-corpus builds: after every build
  * has been touched, rebuilding any one of them must not grow the
  * session's cached RDDs. A rebuild releases exactly the frames the value
  * owns, so anything it leaves behind (a persisted intermediate, a
  * superseded checkpoint) shows up here as growth.
  */
class BuildStorageSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("rebuilding any registered build does not grow the cached RDD count") {
    SparkEntry.queries: Unit // initialize query objects → builds register
    val builds = Build.names.filterNot(_.startsWith("spec_")).toSeq.sorted.map(n => n -> Build.get(n).get)
    assert(builds.size >= 40, s"only ${builds.size} builds registered")
    builds.foreach { case (_, b) => b(spark, dir) }
    def cachedRdds = spark.sparkContext.getPersistentRDDs.size
    val grown = builds.flatMap { case (name, b) =>
      val before = cachedRdds
      b.rebuild(spark, dir)
      val after = cachedRdds
      if (after > before) Some(s"$name: $before -> $after") else None
    }
    assert(grown.isEmpty, s"rebuilds grew the cache: ${grown.mkString("; ")}")
  }
}
