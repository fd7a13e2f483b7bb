package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.sql.functions._

/** The span record checked against Spark's own status store: a job group
  * set around a body lets `statusTracker` list the jobs Spark ran for it,
  * independently of the span's listener.
  */
class ObsSpec extends SparkSpec {

  private def inGroup[T](group: String)(body: => T): T = {
    spark.sparkContext.setJobGroup(group, null) // no description: sites stay call sites
    try body finally spark.sparkContext.clearJobGroup()
  }

  private def groupJobs(group: String): Set[Int] =
    spark.sparkContext.statusTracker.getJobIdsForGroup(group).toSet

  test("a broadcast join and a shuffle aggregate over parquet: every job, with tasks, reads and shuffle") {
    val dir = scratch("obs") + "/facts"
    spark.range(0, 200000).select(col("id"), (col("id") % 50).as("k")).write.parquet(dir)
    val dim = spark.range(0, 50).select(col("id").as("k"), concat(lit("d"), col("id")).as("name"))
    val (rows, rec) = Obs.measure(spark, "join-agg")(inGroup("obs-join-agg") {
      spark.read.parquet(dir).join(broadcast(dim), "k").groupBy("name").agg(sum("id")).collect()
    })
    assert(rows.length === 50)
    val seen = groupJobs("obs-join-agg")
    assert(seen.size >= 3, s"expected the broadcast, the shuffle map and the result job: $seen")
    assert(rec.jobRows.map(_.id).toSet === seen)
    assert(rec.jobs === seen.size)
    assert(rec.taskS > 0 && rec.bytesRead > 0 && rec.shuffleBytes > 0 && rec.shuffleRecords > 0, rec)
    assert(math.abs(rec.jobRows.map(_.taskS).sum - rec.taskS) < 1e-9)
    assert(rec.jobRows.forall(_.site.contains("ObsSpec.scala")), rec.jobRows)
  }

  test("a job another thread runs while the body is open is not attributed to it") {
    val go = new CountDownLatch(1)
    val done = new CountDownLatch(1)
    // created before the span opens, so it does not inherit the span property
    val other = new Thread(() => {
      go.await()
      try inGroup("obs-outside")(spark.range(0, 1000).selectExpr("sum(id)").collect())
      finally done.countDown()
    })
    other.start()
    val (_, rec) = Obs.measure(spark, "inside")(inGroup("obs-inside") {
      go.countDown()
      assert(done.await(60, TimeUnit.SECONDS))
      spark.range(0, 10).collect()
    })
    other.join()
    val outside = groupJobs("obs-outside")
    assert(outside.nonEmpty)
    assert(rec.jobRows.map(_.id).toSet === groupJobs("obs-inside"))
    assert(rec.jobRows.map(_.id).toSet.intersect(outside).isEmpty)
  }

  test("a body that throws leaves the span property cleared") {
    val e = intercept[IllegalStateException] {
      Obs.measure(spark, "throws") {
        spark.range(0, 3).collect()
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage === "boom")
    assert(spark.sparkContext.getLocalProperty(Obs.Property) === null)
  }

  test("storage_left_bytes is what getRDDStorageInfo holds after a pin") {
    val (pinned, rec) = Obs.measure(spark, "pin")(
      Materialize.pin(spark.range(0, 50000).selectExpr("id", "id * 2 AS v")))
    try {
      val held = spark.sparkContext.getRDDStorageInfo
      assert(rec.storageLeftBytes > 0)
      assert(rec.storageLeftBytes === held.map(i => i.memSize + i.diskSize).sum)
      assert(rec.storageLeftRdds === held.length)
    } finally Materialize.release(pinned, blocking = true)
  }
}
