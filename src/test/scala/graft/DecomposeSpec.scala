package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.sys.process._

import org.apache.spark.sql.functions._

import graft.tools.Decompose

class DecomposeSpec extends SparkSpec {
  import spark.implicits._

  test("Decompose an entry and a build: one span per name and rep, build job sites, a trace_diff span file") {
    val out = mutable.ArrayBuffer.empty[String]
    val names = Seq("q1_pricing_summary", "tri_counts")
    val spanLine = Decompose.run(spark, "/root/testdata/sf0.001", names, warmRuns = 1, out += _)

    val spans = spark.read.json(Seq(spanLine).toDS()).select(explode(col("spans")).as("s"))
      .select("s.name", "s.step").as[(String, Long)].collect().toSeq
    assert(spans.sorted === names.flatMap(n => Seq(n -> -1L, n -> 0L)).sorted)

    val triJobs = out.dropWhile(_ != "[decompose] tri_counts median rep, per job:").drop(2)
    assert(triJobs.nonEmpty && triJobs.forall(_.contains("Triangles.scala")), triJobs)

    val file = Paths.get(scratch("decompose"), "spans.json")
    Files.writeString(file, spanLine + "\n")
    val diff = Seq("python3", "tools/trace_diff.py", file.toString, file.toString).!!
    names.foreach(n => assert(diff.contains(n), diff))
  }
}
