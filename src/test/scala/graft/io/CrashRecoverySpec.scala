package graft.io

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

/** Fault-injection for the sinks' stage-then-swap crash safety: each test
  * constructs the exact on-disk state a kill leaves at one point of the
  * compact/upsert protocol (the functions' only externally-visible states),
  * then proves a re-run / recover restores a consistent table.
  */
class CrashRecoverySpec extends SparkSpec {
  import spark.implicits._

  private def fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def rowsOf(dir: String): Seq[(Int, String)] =
    spark.read.parquet(dir).as[(Int, String)].collect().sorted.toSeq

  test("compact re-run after a kill between delete and rename restores from staging") {
    val dir = scratch("crash") + "/t"
    val data = (1 to 100).map(i => (i, s"v$i"))
    data.toDF("k", "v").repartition(10).write.parquet(dir)
    // crash state: staged copy fully written, swap marker committed (the
    // protocol's point of no return), original deleted, rename never ran
    val staged = s"$dir.graft-compact-staging"
    spark.read.parquet(dir).write.parquet(staged)
    fs.create(new Path(staged, "_graft_swap_started"), true).close()
    fs.delete(new Path(dir), true)
    assert(!fs.exists(new Path(dir)))
    // re-run: entry recovery completes the swap, then compaction proceeds
    Sinks.compact(spark, dir, rowsPerFile = 50)
    assert(rowsOf(dir) === data)
    assert(!fs.exists(new Path(staged)))
    val files = new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet"))
    assert(files === 2) // ⌈100/50⌉ — the compaction itself also ran
  }

  test("compact recovery after a kill MID-DELETE: partial original replaced from staging") {
    // the reviewed hole: recursive delete is non-atomic, so a kill can
    // leave a PARTIAL original that still 'exists' — the swap marker, not
    // the dir's existence, must decide
    val dir = scratch("crash") + "/t"
    val data = (1 to 100).map(i => (i, s"v$i"))
    data.toDF("k", "v").repartition(10).write.parquet(dir)
    val staged = s"$dir.graft-compact-staging"
    spark.read.parquet(dir).write.parquet(staged)
    fs.create(new Path(staged, "_graft_swap_started"), true).close()
    // kill mid-delete: half the original's files are gone, dir still exists
    val parts = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
    parts.take(parts.length / 2).foreach(f => assert(f.delete()))
    Sinks.recoverCompact(spark, dir)
    assert(rowsOf(dir) === data, "recovery must restore the COMPLETE staged copy")
    assert(!fs.exists(new Path(staged)))
    assert(!fs.exists(new Path(dir, "_graft_swap_started")))
  }

  test("compact re-run discards a PARTIAL staging dir (no _SUCCESS) and keeps the original") {
    val dir = scratch("crash") + "/t"
    val data = (1 to 40).map(i => (i, s"v$i"))
    data.toDF("k", "v").repartition(8).write.parquet(dir)
    // crash state: kill mid-staging-write — junk files, no _SUCCESS marker
    val staged = new Path(s"$dir.graft-compact-staging")
    fs.mkdirs(staged)
    val junk = fs.create(new Path(staged, "part-junk.parquet"), true)
    junk.write(Array[Byte](1, 2, 3)); junk.close()
    Sinks.compact(spark, dir, rowsPerFile = 40)
    assert(rowsOf(dir) === data)
    assert(!fs.exists(staged))
  }

  test("upsert recovery replays a mid-commit kill from staging (incl. emptied partition)") {
    val root = scratch("crash")
    val dir = s"$root/t"
    // target: partition a {1,2}, partition b {3}, partition c {4}
    Seq((1, "a", "x1"), (2, "a", "x2"), (3, "b", "x3"), (4, "c", "x4"))
      .toDF("k", "p", "v").write.partitionBy("p").parquet(dir)
    // intended upsert: update k=1 (stays in a), MOVE k=3 from b→a (b empties)
    // merged content of affected partitions {a, b}: (1,a,new), (2,a,x2), (3,a,new)
    val staged = s"$dir.graft-upsert-staging"
    Seq((1, "a", "NEW1"), (2, "a", "x2"), (3, "a", "NEW3"))
      .toDF("k", "p", "v").write.parquet(staged)
    val m = fs.create(new Path(staged, "_graft_emptied.txt"), true)
    m.write("p=b".getBytes("UTF-8")); m.close()
    // crash state: dynamic overwrite got through partition a ONLY — partition
    // a was rewritten with garbage mid-flight, b's delete never ran
    fs.delete(new Path(s"$dir/p=a"), true)
    Seq((99, "a", "TORN")).toDF("k", "p", "v")
      .write.mode("append").partitionBy("p").parquet(dir)

    Sinks.recoverUpsert(spark, dir, "p")

    val got = spark.read.parquet(dir).select("k", "p", "v")
      .as[(Int, String, String)].collect().sorted.toSeq
    assert(got === Seq((1, "a", "NEW1"), (2, "a", "x2"), (3, "a", "NEW3"), (4, "c", "x4")))
    assert(!fs.exists(new Path(s"$dir/p=b")), "emptied partition must be removed by recovery")
    assert(!fs.exists(new Path(staged)))
  }

  test("upsert recovery with complete staging but NO manifest discards it (target intact)") {
    // the reviewed hole: a kill between the staging parquet commit
    // (_SUCCESS) and the manifest write must NOT replay — the overwrite
    // never started, and replaying without a manifest would leave a moved
    // key duplicated across partitions
    val root = scratch("crash")
    val dir = s"$root/t"
    Seq((1, "a", "x1"), (3, "b", "x3")).toDF("k", "p", "v")
      .write.partitionBy("p").parquet(dir)
    val staged = s"$dir.graft-upsert-staging"
    // staged merged copy for a b→a key move, fully committed (_SUCCESS),
    // but the kill hit before the manifest landed
    Seq((1, "a", "x1"), (3, "a", "MOVED")).toDF("k", "p", "v").write.parquet(staged)
    Sinks.recoverUpsert(spark, dir, "p")
    val got = spark.read.parquet(dir).select("k", "p", "v")
      .as[(Int, String, String)].collect().sorted.toSeq
    assert(got === Seq((1, "a", "x1"), (3, "b", "x3")), "target must be untouched")
    assert(!fs.exists(new Path(staged)))
  }

  test("upsert entry discards partial staging (no _SUCCESS): target untouched") {
    val root = scratch("crash")
    val dir = s"$root/t"
    Seq((1, "a", "x1"), (2, "b", "x2")).toDF("k", "p", "v")
      .write.partitionBy("p").parquet(dir)
    val staged = new Path(s"$dir.graft-upsert-staging")
    fs.mkdirs(staged)
    val junk = fs.create(new Path(staged, "part-torn.parquet"), true)
    junk.write(Array[Byte](9, 9)); junk.close()
    // a normal upsert run heals and proceeds
    Sinks.upsertParquet(spark, dir,
      Seq((2, "b", "UPD")).toDF("k", "p", "v"), keyCols = Seq("k"), partitionCol = "p")
    val got = spark.read.parquet(dir).select("k", "p", "v")
      .as[(Int, String, String)].collect().sorted.toSeq
    assert(got === Seq((1, "a", "x1"), (2, "b", "UPD")))
    assert(!fs.exists(staged))
  }
}
