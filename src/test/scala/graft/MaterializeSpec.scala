package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

class MaterializeSpec extends SparkSpec {

  private def cached: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def checkpointRdd(df: DataFrame): Int = df.queryExecution.logical match {
    case lr: LogicalRDD => lr.rdd.id
    case other => fail(s"not a checkpoint: ${other.nodeName}")
  }

  test("pin persists, fills the cache and returns the frame") {
    val before = cached
    val df = spark.range(20).toDF("id").selectExpr("id * 7 AS v")
    assert(Materialize.pin(df) eq df)
    // the level every hand-written persist used to spell out
    assert(df.storageLevel == StorageLevel.MEMORY_AND_DISK)
    assert((cached -- before).nonEmpty) // the count filled the cache
    Materialize.release(df, blocking = true)
    assert(df.storageLevel == StorageLevel.NONE)
    assert((cached -- before).isEmpty)
  }

  test("release frees a checkpoint and a select of one") {
    val ck = spark.range(30).toDF("id").localCheckpoint(true)
    val id = checkpointRdd(ck)
    assert(cached.contains(id))
    Materialize.release(ck, blocking = true)
    assert(!cached.contains(id))

    val ck2 = spark.range(30).toDF("id").localCheckpoint(true)
    val id2 = checkpointRdd(ck2)
    Materialize.release(ck2.select((ck2("id") + 1).as("x")).withColumnRenamed("x", "y"),
      blocking = true)
    assert(!cached.contains(id2))
  }

  test("release of a filter, join or persisted select over a checkpoint leaves it") {
    val ck = spark.range(30).toDF("id").localCheckpoint(true)
    val id = checkpointRdd(ck)
    Materialize.release(ck.filter("id > 3"), blocking = true)
    Materialize.release(ck.join(spark.range(5).toDF("id"), "id"), blocking = true)
    val sel = Materialize.pin(ck.select((ck("id") * 2).as("d")))
    Materialize.release(sel, blocking = true)
    assert(sel.storageLevel == StorageLevel.NONE)
    assert(cached.contains(id))
    assert(ck.count() == 30)
    Materialize.release(ck, blocking = true)
  }

  test("using releases its cache entry when the body throws") {
    val df = spark.range(10).toDF("id").selectExpr("id + 100 AS w")
    val e = intercept[IllegalStateException] {
      Materialize.using(df) { d =>
        assert(d.storageLevel != StorageLevel.NONE)
        d.count()
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage == "boom")
    assert(df.storageLevel == StorageLevel.NONE)
  }
}
