package graft.streaming

import graft.SparkSpec

/** Pins [[ExactDedupLedgerStream]]: probe-over-waves equals the batch
  * recompute ([[graft.ext.ExactDedup.newAgainstCorpus]]) after every
  * ingest, replay idempotence, compaction re-distincting, and the
  * MemoryStream attach path.
  */
class ExactDedupLedgerStreamSpec extends SparkSpec {
  import spark.implicits._

  // corpus holds "alpha beta" twice (cross-wave duplicate content) and a
  // NULL payload; batch: 10 dups corpus content, 11 is novel, 12 is NULL
  private val corpus = Seq(
    (1L, "alpha beta"),
    (2L, "gamma delta"),
    (3L, "alpha beta"),
    (4L, null.asInstanceOf[String]))
  private val batch = Seq(
    (10L, "alpha beta"),
    (11L, "epsilon zeta"),
    (12L, null.asInstanceOf[String]))

  private def probed(root: String): Set[Long] =
    ExactDedupLedgerStream.probe(spark, root, batch.toDF("doc_id", "text"))
      .collect().map(_.getLong(0)).toSet

  private def want(seen: Seq[(Long, String)]): Set[Long] =
    graft.ext.ExactDedup.newAgainstCorpus(
        batch.toDF("doc_id", "text"), seen.toDF("doc_id", "text"))
      .collect().map(_.getLong(0)).toSet

  test("probe over waves == batch recompute after each ingest") {
    val root = scratch("xdled") + "/st"
    assert(probed(root) === Set(10L, 11L, 12L)) // empty ledger: all novel
    var seen = Seq.empty[(Long, String)]
    corpus.grouped(2).zipWithIndex.foreach { case (w, i) =>
      ExactDedupLedgerStream.maintain(w.toDF("doc_id", "text"), i.toLong, root)
      seen ++= w
      assert(probed(root) === want(seen), s"after wave $i")
    }
    // 10 dups folded content; 11 novel; NULL batch payload stays novel
    // (NULL never equals NULL in the verify join — the batch operator's
    // semantics, which the shared oracle's c.text = b.text mirrors)
    assert(probed(root) === Set(11L, 12L))
  }

  test("replayed and empty batches are no-ops; segments store distinct content") {
    val root = scratch("xdled-rp") + "/st"
    ExactDedupLedgerStream.maintain(corpus.toDF("doc_id", "text"), 0L, root)
    // 4 rows, 3 distinct contents ("alpha beta" once, "gamma delta", NULL)
    assert(ExactDedupLedgerStream.serve(spark, root).count() === 3)
    ExactDedupLedgerStream.maintain(corpus.toDF("doc_id", "text"), 0L, root)
    assert(ExactDedupLedgerStream.serve(spark, root).count() === 3)
    ExactDedupLedgerStream.maintain(
      corpus.toDF("doc_id", "text").limit(0), 1L, root)
    assert(SegmentStore.committed(spark, root, "batch=").map(_._1) === Seq(0L))
  }

  test("compaction re-distincts cross-batch repeats without changing the probe") {
    val root = scratch("xdled-cp") + "/st"
    // both waves contain "alpha beta" -> 2 state rows for one content
    ExactDedupLedgerStream.maintain(corpus.take(2).toDF("doc_id", "text"), 0L, root)
    ExactDedupLedgerStream.maintain(corpus.drop(2).toDF("doc_id", "text"), 1L, root)
    assert(ExactDedupLedgerStream.serve(spark, root).count() === 4)
    val before = probed(root)
    assert(ExactDedupLedgerStream.compact(spark, root) === Some(1L))
    assert(ExactDedupLedgerStream.serve(spark, root).count() === 3)
    assert(probed(root) === before)
    // STEADY-STATE layout (round 14): a fresh wave folded PAST the compact
    // segment serves together with it — the new wave carries batch doc
    // 11's content, so the probe must stop calling 11 novel
    ExactDedupLedgerStream.maintain(
      Seq((20L, "epsilon zeta")).toDF("doc_id", "text"), 2L, root)
    assert(probed(root) === want(corpus :+ ((20L, "epsilon zeta"))))
    assert(!probed(root).contains(11L))
  }

  test("streamed document batches converge to the batch recompute") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val root = scratch("xdled-st") + "/st"
    val ckpt = scratch("xdled-ck")
    val input = MemoryStream[(Long, String)]
    val q = ExactDedupLedgerStream.attach(
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
