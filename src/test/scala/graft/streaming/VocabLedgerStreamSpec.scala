package graft.streaming

import graft.SparkSpec

/** Pins [[VocabLedgerStream]]: the maintained typo-canonical map equals
  * the batch recompute after every ingest — including the argmax FLIP
  * case where a wave-local decision differs from the summed-count one —
  * plus replay idempotence, compaction pre-summing, and the steady-state
  * compact+fresh-batch layout.
  */
class VocabLedgerStreamSpec extends SparkSpec {
  import spark.implicits._

  // wave 0 has 'thw' (the typo) dominating 'the' 4:3 — a wave-local
  // canonical of 'the' would be 'thw'; wave 1 adds 3 more 'the', so the
  // summed argmax flips to 'the' (6 > 4). 'dog'/'dig' tie at 2 each.
  private val wave0 = Seq(
    (1L, "thw thw thw thw the the the dog dig"),
    (2L, "zebra"))
  private val wave1 = Seq(
    (3L, "the the the dog dig"))

  private def probed(root: String): Map[String, (String, Long)] =
    VocabLedgerStream.probeTypoCanonical(spark, root)
      .collect().map(r => r.getString(0) -> ((r.getString(1), r.getLong(2)))).toMap

  private def want(seen: Seq[(Long, String)]): Map[String, (String, Long)] =
    graft.ext.EditDist.typoCanonical(
        graft.ext.EditDist.vocab(seen.toDF("doc_id", "text"), "text"))
      .collect().map(r => r.getString(0) -> ((r.getString(1), r.getLong(2)))).toMap

  test("maintained typo map == recompute; summed counts flip the argmax") {
    val root = scratch("vocled") + "/st"
    VocabLedgerStream.maintain(wave0.toDF("doc_id", "text"), 0L, root)
    val after0 = probed(root)
    assert(after0 === want(wave0))
    assert(after0("the") === (("thw", 4L)), "wave-local: the typo dominates")
    VocabLedgerStream.maintain(wave1.toDF("doc_id", "text"), 1L, root)
    val after1 = probed(root)
    assert(after1 === want(wave0 ++ wave1))
    assert(after1("the") === (("the", 6L)), "summed counts flip the canonical")
    assert(after1("thw") === (("the", 6L)))
    assert(after1("dog") === (("dig", 2L)), "tie goes lexicographic")
  }

  test("replay no-op; compaction pre-sums; steady-state compact+fresh layout") {
    val root = scratch("vocled-rp") + "/st"
    VocabLedgerStream.maintain(wave0.toDF("doc_id", "text"), 0L, root)
    VocabLedgerStream.maintain(wave1.toDF("doc_id", "text"), 1L, root)
    val before = probed(root)
    VocabLedgerStream.maintain(wave0.toDF("doc_id", "text"), 0L, root) // replay
    assert(probed(root) === before)
    assert(VocabLedgerStream.compact(spark, root) === Some(1L))
    assert(probed(root) === before)
    // one row per word in the compacted layout (pre-summed)
    val served = VocabLedgerStream.serve(spark, root)
    assert(served.count() === served.select("word").distinct().count())
    // STEADY STATE: a fresh wave folded past the compact serves with it
    val extra = Seq((9L, "zebra zebra zebrb"))
    VocabLedgerStream.maintain(extra.toDF("doc_id", "text"), 2L, root)
    val after = probed(root)
    assert(after === want(wave0 ++ wave1 ++ extra))
    assert(after("zebrb") === (("zebra", 3L)), "fresh wave's typo canonicalizes")
  }

  test("streamed document batches converge to the batch recompute") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val root = scratch("vocled-st") + "/st"
    val ckpt = scratch("vocled-ck")
    val input = MemoryStream[(Long, String)]
    val q = VocabLedgerStream.attach(
      input.toDF().toDF("doc_id", "text"), root, ckpt).start()
    try {
      input.addData(wave0)
      q.processAllAvailable()
      input.addData(wave1)
      q.processAllAvailable()
    } finally q.stop()
    assert(probed(root) === want(wave0 ++ wave1))
  }

  test("empty batches are no-ops") {
    val root = scratch("vocled-e") + "/st"
    VocabLedgerStream.maintain(Seq((1L, "")).toDF("doc_id", "text"), 0L, root)
    assert(SegmentStore.committed(spark, root, "batch=").isEmpty)
  }
}
