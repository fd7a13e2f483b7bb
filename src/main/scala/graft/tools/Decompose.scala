package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

import graft.{Build, Obs, SparkEntry}

/** Where the time of registry entries and once-per-corpus builds goes:
  * `sbt "runMain graft.tools.Decompose <entry|build>..."`.
  *
  * For an entry it prints the formatted physical plan, then runs one cold
  * and N warm reps of the [[graft.Bench]] protocol: rebuild the frame,
  * write it to the noop sink. For a build it runs one cold touch (its
  * dependencies build inside it) and N `Build.rebuild` reps. Every rep is
  * an [[Obs.measure]] span; each prints one summary line, and the median
  * warm rep also prints its per-job table.
  *
  * The last stdout line is a span file in the shape `tools/trace_diff.py`
  * reads (the cold rep is step -1), so two commits compare with
  * `trace_diff.py parent.json pr.json`.
  *
  * Env (as for `graft.Bench`): SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS,
  * SPARK_GRAFT_WARM_RUNS.
  */
object Decompose {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Decompose <entry|build>...")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val warmRuns = math.max(0, sys.env.getOrElse("SPARK_GRAFT_WARM_RUNS", "5").toInt)
    val spark = graft.GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try println(run(spark, sfDir, args.toSeq, warmRuns, println))
    finally spark.stop()
  }

  /** Decompose `names`, printing the report through `out`; returns the
    * span file line.
    */
  def run(spark: SparkSession, sfDir: String, names: Seq[String], warmRuns: Int,
          out: String => Unit): String = {
    val queries = SparkEntry.queries // initializes the query objects, so builds register
    val unknown = names.filterNot(n => queries.contains(n) || Build.names(n))
    require(unknown.isEmpty, s"no entry or build named: ${unknown.mkString(", ")}")
    val recs = names.map { name =>
      val rep: () => Unit = queries.get(name) match {
        case Some(fn) =>
          out(s"== $name (entry)")
          val (plan, planning) = Obs.measure(spark, name)(
            fn(spark, sfDir).queryExecution.explainString(ExplainMode.fromString("formatted")))
          out(plan)
          out(line(name, "planning", planning))
          () => fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        case None =>
          out(s"== $name (build)")
          val b = Build.get(name).get
          () => b.rebuild(spark, sfDir)
      }
      val reps = (0 to warmRuns).map(_ => Obs.measure(spark, name)(rep())._2)
      out(line(name, "cold", reps.head))
      reps.tail.zipWithIndex.foreach { case (r, i) => out(line(name, s"warm ${i + 1}", r)) }
      val median = medianRep(reps)
      out(f"[decompose] $name median rep, per job:")
      out(f"  ${"job"}%5s ${"stages"}%6s ${"task_s"}%8s ${"shuffle_rec"}%11s  site")
      median.jobRows.foreach { j =>
        out(f"  ${j.id}%5d ${j.stages}%6d ${j.taskS}%8.3f ${j.shuffleRecords}%11d  ${j.site}")
      }
      reps
    }
    val steps = (-1 until warmRuns).map(i => s"""{"step":$i,"traced":true}""")
    val spans = recs.flatMap(_.zipWithIndex.map { case (r, i) =>
      (Seq("name" -> s"\"${r.name}\"", "step" -> (i - 1)) ++ r.counters)
        .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    })
    s"""{"steps":${steps.mkString("[", ",", "]")},"spans":${spans.mkString("[", ",", "]")}}"""
  }

  /** The median warm rep by wall time, or the cold one with no warm reps. */
  private def medianRep(reps: Seq[Obs.Record]): Obs.Record = {
    val warm = if (reps.size > 1) reps.tail.sortBy(_.wallS) else reps
    warm(warm.size / 2)
  }

  private def line(name: String, rep: String, r: Obs.Record): String = {
    val builds = r.builds.toSeq.sortBy(_._1).map { case (k, v) => f"$k=$v%.2f s" }
    f"[decompose] $name $rep: ${r.wallS}%.3f s, ${r.jobs} jobs, task ${r.taskS}%.3f s, " +
      f"gc ${r.gcS}%.3f s, shuffle ${r.shuffleBytes} B / ${r.shuffleRecords} rec, " +
      s"spill ${r.spillBytes} B, read ${r.bytesRead} B, written ${r.bytesWritten} B, " +
      s"storage left ${r.storageLeftRdds} rdds / ${r.storageLeftBytes} B" +
      (if (builds.isEmpty) "" else builds.mkString(", builds: ", ", ", ""))
  }
}
