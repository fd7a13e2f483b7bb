package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins [[AggLedger]]: convergence to the direct aggregate, time travel,
  * the (streamId, batchId) transaction guard, null handling and merge
  * associativity. Replay, empty-batch and crash behavior is
  * [[graft.props.LedgerProps]]'.
  */
class AggLedgerSpec extends SparkSpec {
  import spark.implicits._

  private def rows(n: Int) =
    (0 until n).map(i => (i.toLong, s"k${i % 4}", (i % 13) * 0.37 - 1.0))
      .toDF("id", "k", "v")

  private def served(root: String) =
    AggLedger.serve(spark, root, Seq("k"),
      Seq(org.apache.spark.sql.types.StringType))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5))).toMap

  private def direct(df: org.apache.spark.sql.DataFrame) =
    AggLedger.finalizeLedger(AggLedger.partial(df, Seq("k"), "v"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5))).toMap

  test("maintained over waves equals a direct aggregate of the history") {
    val root = scratch("aggledger") + "/st"
    val df = rows(200)
    (0 until 5).foreach { w =>
      AggLedger.maintain(df.filter(pmod(col("id"), lit(5)) === w), w, root,
        Seq("k"), "v")
    }
    assert(served(root) === direct(df))
  }

  test("time travel: atVersion reads a retained past version; pruned/partial fail loudly") {
    val root = scratch("aggledger") + "/st"
    val df = rows(100)
    val ledger = AggLedger.ledger(Seq("k"), Seq(org.apache.spark.sql.types.StringType))
    // four waves, retention 2 → v2, v3 survive
    (0 to 3).foreach { w =>
      AggLedger.maintain(df.filter(pmod(col("id"), lit(4)) === w), w, root, Seq("k"), "v",
        keepVersions = 2)
    }
    // v2 is the PAST state (waves 0..2), readable as of its batch id
    val got = ledger.atVersion(spark, root, 2L).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = AggLedger.finalizeLedger(AggLedger.partial(
      df.filter(pmod(col("id"), lit(4)) <= 2), Seq("k"), "v")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === want)
    // v0 was pruned (keepVersions = 2): loud failure naming the retained set
    val err = intercept[NoSuchElementException] {
      ledger.atVersion(spark, root, 0L)
    }
    assert(err.getMessage.contains("v3") && err.getMessage.contains("v2"))
    // a crash-partial version dir (no _SUCCESS) is absent for time travel
    val partial = new java.io.File(s"$root/v9"); partial.mkdirs()
    intercept[NoSuchElementException] {
      ledger.atVersion(spark, root, 9L)
    }
  }

  test("merge is associative across wave orderings (decimal sums)") {
    val df = rows(90)
    val p = (0 until 3).map(w =>
      AggLedger.partial(df.filter(pmod(col("id"), lit(3)) === w), Seq("k"), "v"))
    val ab_c = AggLedger.merge(AggLedger.merge(p(0), p(1), Seq("k")), p(2), Seq("k"))
    val a_bc = AggLedger.merge(p(0), AggLedger.merge(p(1), p(2), Seq("k")), Seq("k"))
    val l = AggLedger.finalizeLedger(ab_c).collect().map(_.toSeq).toSet
    val r = AggLedger.finalizeLedger(a_bc).collect().map(_.toSeq).toSet
    assert(l === r)
  }

  test("streamed fact batches converge to the direct aggregate; versions pruned") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val root = scratch("aggledger-st") + "/st"
    val ckpt = scratch("aggledger-ck")
    val input = MemoryStream[(Long, String, Double)]
    val q = AggLedger.attach(input.toDF().toDF("id", "k", "v"),
      root, ckpt, Seq("k"), "v").start()
    try {
      input.addData((1L, "a", 1.5), (2L, "b", 2.0))
      q.processAllAvailable()
      input.addData((3L, "a", -0.5), (4L, "a", 3.0))
      q.processAllAvailable()
      val all = Seq((1L, "a", 1.5), (2L, "b", 2.0), (3L, "a", -0.5), (4L, "a", 3.0))
        .toDF("id", "k", "v")
      assert(served(root) === direct(all))
      val dirs = new java.io.File(root).listFiles().filter(_.isDirectory)
        .map(_.getName).filter(_.startsWith("v"))
      assert(dirs.length === 1, dirs.mkString(","))
    } finally q.stop()
  }

  test("reset checkpoint (mismatched stream id) fails loudly, never skips silently") {
    val root = scratch("aggledger-txn") + "/st"
    val df = rows(80)
    val b0 = df.filter(col("id") < 40)
    val b1 = df.filter(col("id") >= 40)
    AggLedger.maintain(b0, 0L, root, Seq("k"), "v", streamId = Some("ckpt-A"))
    AggLedger.maintain(b1, 1L, root, Seq("k"), "v", streamId = Some("ckpt-A"))
    val want = served(root)
    // same stream replays batch 1 (at-least-once): still a no-op
    AggLedger.maintain(b1, 1L, root, Seq("k"), "v", streamId = Some("ckpt-A"))
    assert(served(root) === want)
    // a RESET checkpoint restarts batch ids at 0 under a NEW stream id.
    // The old version-only guard would silently skip this batch (its id 0
    // is ≤ applied version 1 — data loss); the txn guard must throw.
    val e = intercept[IllegalStateException] {
      AggLedger.maintain(b0, 0L, root, Seq("k"), "v", streamId = Some("ckpt-B"))
    }
    assert(e.getMessage.contains("ckpt-A") && e.getMessage.contains("ckpt-B"))
    assert(served(root) === want) // state untouched by the rejected batch
    // the recorded stream id survives pointer loss (the _TXN mirror in the
    // version dir) — the guard still fires on the crash-recovery path
    assert(new java.io.File(root, "_LATEST").delete())
    intercept[IllegalStateException] {
      AggLedger.maintain(b0, 0L, root, Seq("k"), "v", streamId = Some("ckpt-B"))
    }
    // and the same-stream path still works after recovery
    AggLedger.maintain(b1.limit(7), 2L, root, Seq("k"), "v", streamId = Some("ckpt-A"))
    assert(served(root) !== want)
  }

  test("pre-txn state (no recorded stream id) falls back to the version-only guard") {
    val root = scratch("aggledger-pretxn") + "/st"
    val df = rows(60)
    AggLedger.maintain(df, 0L, root, Seq("k"), "v") // txn-less commit
    val want = served(root)
    // a txn-carrying maintainer adopting old state: replay skipped by
    // version id (no recorded txn to mismatch), new batch applied
    AggLedger.maintain(df, 0L, root, Seq("k"), "v", streamId = Some("ckpt-N"))
    assert(served(root) === want)
    AggLedger.maintain(df.limit(10), 1L, root, Seq("k"), "v", streamId = Some("ckpt-N"))
    assert(served(root) !== want)
  }

  test("a txn-less maintain on txn-guarded state does not erase the recorded stream id") {
    val root = scratch("aggledger-keep") + "/st"
    val df = rows(60)
    AggLedger.maintain(df, 0L, root, Seq("k"), "v", streamId = Some("ckpt-A"))
    // a txn-LESS caller applies batch 1: the commit must carry ckpt-A
    // forward (it rewrites the pointer and prunes the old _TXN dir — a
    // None here would permanently disarm the guard)
    AggLedger.maintain(df.limit(20), 1L, root, Seq("k"), "v")
    // the guard still fires for a different stream at a restarted id
    intercept[IllegalStateException] {
      AggLedger.maintain(df, 0L, root, Seq("k"), "v", streamId = Some("ckpt-B"))
    }
    // and the original stream continues normally
    AggLedger.maintain(df.limit(5), 2L, root, Seq("k"), "v", streamId = Some("ckpt-A"))
  }

  test("stream identity is the checkpoint QUERY ID, so an in-place wipe is detected") {
    // unit half: the id comes from <checkpoint>/metadata, not the path
    val ck = scratch("aggledger-ck")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(ck, "metadata"), """{"id":"uuid-one"}""")
    assert(AggLedger.checkpointQueryId(spark, ck) === "uuid-one")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(ck, "metadata"), """{"id" : "uuid-two"}""")
    assert(AggLedger.checkpointQueryId(spark, ck) === "uuid-two")
    // unreadable metadata → path fallback, never a crash
    val ck2 = scratch("aggledger-ck2")
    assert(AggLedger.checkpointQueryId(spark, ck2) === ck2)

    // streaming half: run, wipe the checkpoint IN PLACE (same path),
    // restart — the new run mints a new query id and the guard must
    // reject its restarted batch 0 instead of silently skipping it
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val root = scratch("aggledger-wipe") + "/st"
    val ckpt = scratch("aggledger-wipeck") + "/ck"
    val in1 = MemoryStream[(Long, String, Double)]
    val q1 = AggLedger.attach(in1.toDF().toDF("id", "k", "v"),
      root, ckpt, Seq("k"), "v").start()
    try {
      in1.addData((1L, "a", 1.0), (2L, "b", 2.0))
      q1.processAllAvailable()
    } finally q1.stop()
    val before = served(root)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckpt))
    val in2 = MemoryStream[(Long, String, Double)]
    val q2 = AggLedger.attach(in2.toDF().toDF("id", "k", "v"),
      root, ckpt, Seq("k"), "v").start()
    try {
      in2.addData((3L, "a", 9.0))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("Refusing to guess")), msgs(e).mkString(" | "))
    } finally q2.stop()
    assert(served(root) === before) // state untouched by the rejected run
  }

  test("null values: count counts rows, sum/min/max skip nulls") {
    val df = Seq((1L, "a", Some(2.0)), (2L, "a", None), (3L, "a", Some(4.0)))
      .toDF("id", "k", "v")
    val got = AggLedger.finalizeLedger(AggLedger.partial(df, Seq("k"), "v"))
      .head
    assert(got.getLong(1) === 3L)        // n: all rows
    assert(got.getDouble(2) === 6.0)     // total
    assert(got.getDouble(3) === 2.0 && got.getDouble(4) === 4.0)
  }
}
