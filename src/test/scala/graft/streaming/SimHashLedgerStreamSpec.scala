package graft.streaming

import graft.SparkSpec

/** Pins [[SimHashLedgerStream]]: probe-over-waves equals the batch
  * recompute ([[graft.ext.SimHash.newAgainstCorpusMd5]]) after every
  * ingest, replay idempotence, compaction transparency, and the
  * MemoryStream attach path. (Crash-window and malformed-segment-name
  * semantics are [[SegmentStore]]'s, pinned in MinHashLedgerStreamSpec.)
  */
class SimHashLedgerStreamSpec extends SparkSpec {
  import spark.implicits._

  // batch doc 10 = exact text of corpus doc 1 (hamming 0 -> matched);
  // 11 shares no tokens (novel); 12 is NULL text (novel by contract)
  private val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "pack my box with five dozen liquor jugs"),
    (3L, "a completely different sentence about graph ledgers and state"))
  private val batch = Seq(
    (10L, "the quick brown fox jumps over the lazy dog"),
    (11L, "totally novel words nothing shared here at all"),
    (12L, null.asInstanceOf[String]))

  private def probed(root: String): Set[Long] =
    SimHashLedgerStream.probe(spark, root, batch.toDF("doc_id", "text"))
      .collect().map(_.getLong(0)).toSet

  private def want(seen: Seq[(Long, String)]): Set[Long] =
    graft.ext.SimHash.newAgainstCorpusMd5(
        batch.toDF("doc_id", "text"), seen.toDF("doc_id", "text"))
      .collect().map(_.getLong(0)).toSet

  test("probe over waves == batch recompute after each ingest") {
    val root = scratch("shled") + "/st"
    assert(probed(root) === Set(10L, 11L, 12L)) // empty ledger: all novel
    var seen = Seq.empty[(Long, String)]
    corpus.grouped(2).zipWithIndex.foreach { case (w, i) =>
      SimHashLedgerStream.maintain(w.toDF("doc_id", "text"), i.toLong, root)
      seen ++= w
      assert(probed(root) === want(seen), s"after wave $i")
    }
    assert(probed(root) === Set(11L, 12L)) // the fixture is non-trivial
  }

  test("replayed batches overwrite; compaction does not change the probe") {
    val root = scratch("shled-rp") + "/st"
    SimHashLedgerStream.maintain(corpus.take(2).toDF("doc_id", "text"), 0L, root)
    SimHashLedgerStream.maintain(corpus.drop(2).toDF("doc_id", "text"), 1L, root)
    val before = probed(root)
    SimHashLedgerStream.maintain(corpus.take(2).toDF("doc_id", "text"), 0L, root)
    assert(SimHashLedgerStream.serve(spark, root).count() === 3)
    assert(SimHashLedgerStream.compact(spark, root) === Some(1L))
    assert(probed(root) === before)
    assert(SegmentStore.live(spark, root).size === 1)
    // STEADY-STATE layout (round 14): a fresh wave folded PAST the compact
    // segment serves together with it — it carries batch doc 11's exact
    // text, flipping 11 from novel to matched
    val extra = (20L, "totally novel words nothing shared here at all")
    SimHashLedgerStream.maintain(Seq(extra).toDF("doc_id", "text"), 2L, root)
    assert(SegmentStore.live(spark, root).size === 2)
    assert(probed(root) === want(corpus :+ extra))
    assert(!probed(root).contains(11L))
  }

  test("streamed document batches converge to the batch recompute") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val root = scratch("shled-st") + "/st"
    val ckpt = scratch("shled-ck")
    val input = MemoryStream[(Long, String)]
    val q = SimHashLedgerStream.attach(
      input.toDF().toDF("doc_id", "text"), root, ckpt).start()
    try {
      input.addData(corpus.take(2))
      q.processAllAvailable()
      input.addData(corpus.drop(2))
      q.processAllAvailable()
    } finally q.stop()
    assert(probed(root) === want(corpus))
  }
}
