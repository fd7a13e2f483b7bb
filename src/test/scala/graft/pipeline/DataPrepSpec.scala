package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** End-to-end training-data prep over real testdata: every stage's
  * invariant, plus full-pipeline determinism (the property that makes
  * experiment comparisons meaningful).
  */
class DataPrepSpec extends SparkSpec {
  import spark.implicits._

  private def docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  test("stage invariants: gate filters, dedup removes all exact dups, splits partition") {
    val out = scratch("prep") + "/corpus"
    val total = docs.count()
    val gated = DataPrep.qualityGate(docs, minScore = 3)
    assert(gated.count() <= total && gated.count() > 0)

    val exact = DataPrep.dropExactDups(gated)
    // no two surviving docs share a text
    assert(exact.count() === exact.select(countDistinct($"text")).head().getLong(0))

    val finalDf = DataPrep.run(spark, docs, out)
    val n = finalDf.count()
    assert(n > 0 && n <= exact.count()) // near-dup pruning only removes

    // splits are a total partition with sane proportions
    val splits = finalDf.groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(splits.keySet.subsetOf(Set("train", "val", "test")))
    assert(splits.values.sum === n)
    assert(splits("train") > splits.getOrElse("val", 0L))

    // partitioned layout on disk, readable, same rows
    val back = spark.read.parquet(out)
    assert(back.count() === n)
    assert(new java.io.File(out).listFiles().exists(_.getName.startsWith("split=")))
  }

  test("pipeline is deterministic end to end: rerun -> identical corpus") {
    val out1 = scratch("prep") + "/c1"
    val out2 = scratch("prep") + "/c2"
    val a = DataPrep.run(spark, docs, out1).select("doc_id", "split")
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted
    val b = DataPrep.run(spark, docs, out2).select("doc_id", "split")
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted
    assert(a.toSeq === b.toSeq)
  }

  test("near-dup pruning removes a planted MinHash duplicate, keeps smaller id") {
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val near = ((1 to 58).map(i => s"w$i") ++ Seq("z1", "z2")).mkString(" ")
    val other = (100 to 160).map(i => s"v$i").mkString(" ")
    val fixture = Seq((1L, base), (2L, near), (3L, other)).toDF("doc_id", "text")
    val kept = DataPrep.dropNearDups(fixture, minJaccard = 0.5)
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq === Seq(1L, 3L)) // 2 pruned as near-dup of 1
  }

  test("cluster-exact pruning collapses a duplicate CHAIN to its min id") {
    // 1~2 and 2~3 via shared-word overlap; greedy pairwise would also work
    // here, but the cluster path must agree and keep exactly doc 1
    val a = (1 to 60).map(i => s"w$i").mkString(" ")
    val b = ((1 to 58).map(i => s"w$i") ++ Seq("z1", "z2")).mkString(" ")
    val c = ((1 to 56).map(i => s"w$i") ++ Seq("z1", "z2", "z3", "z4")).mkString(" ")
    val other = (100 to 160).map(i => s"v$i").mkString(" ")
    val fixture = Seq((1L, a), (2L, b), (3L, c), (9L, other)).toDF("doc_id", "text")
    val kept = DataPrep.dropNearDupClusters(fixture, minJaccard = 0.5)
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq === Seq(1L, 9L))
  }
}
