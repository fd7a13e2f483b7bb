package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins [[CdcLedgerStream]]: probe-over-waves equals the batch recompute
  * (chunk set difference) after every ingest, replay idempotence,
  * compaction re-distincting, and the chunking-parameter pin.
  */
class CdcLedgerStreamSpec extends SparkSpec {
  import spark.implicits._

  // this pangram line actually triggers the divisor rule (4 cuts per
  // repetition block — pinned in CdcSpec; the classic lazy-dog line
  // happens to produce NO cuts at these parameters)
  private val boiler =
    "pack my box with five dozen liquor jugs and then some more words here " * 3
  // corpus docs share the boilerplate (doc 3 is EXACTLY it, so its
  // end-of-document tail chunk is state too); batch doc 10 is boilerplate
  // + a novel tail, 11 is fully novel, 12 is pure boilerplate (zero novel)
  private val corpus = Seq(
    (1L, boiler + "alpha ending here for doc one padded"),
    (2L, boiler + "beta ending here for doc two padded"),
    (3L, boiler))
  private val batch = Seq(
    (10L, boiler + "gamma ending never seen before anywhere"),
    (11L, "completely fresh content with nothing shared at all " * 2),
    (12L, boiler))

  private def probed(root: String): Map[Long, (Long, Long, Long)] =
    CdcLedgerStream.probe(spark, root, batch.toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap

  private def wantAgainst(seen: Seq[(Long, String)]): Map[Long, (Long, Long, Long)] = {
    val corpusChunks = graft.ext.Cdc.chunks(seen.toDF("doc_id", "text"))
      .select(col("chunk_text")).distinct()
    val ch = graft.ext.Cdc.chunks(batch.toDF("doc_id", "text"))
    val novel = ch.join(corpusChunks, Seq("chunk_text"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("nn"), sum(col("chunk_len")).cast("long").as("nc"))
    ch.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      .join(novel, Seq("doc_id"), "left")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1),
        if (r.isNullAt(2)) 0L else r.getLong(2),
        if (r.isNullAt(3)) 0L else r.getLong(3)))).toMap
  }

  test("probe over waves == chunk-set recompute after each ingest") {
    val root = scratch("cdcled") + "/st"
    // empty ledger: every chunk of every batch doc is novel
    val empty = probed(root)
    assert(empty.keySet === Set(10L, 11L, 12L))
    empty.foreach { case (_, (n, nn, _)) => assert(n === nn) }
    var seen = Seq.empty[(Long, String)]
    corpus.zipWithIndex.foreach { case (w, i) =>
      CdcLedgerStream.maintain(Seq(w).toDF("doc_id", "text"), i.toLong, root)
      seen :+= w
      assert(probed(root) === wantAgainst(seen), s"after wave $i")
    }
    // boilerplate chunks are now state: doc 12 must be fully deduped
    val after = probed(root)
    assert(after(12L)._2 === 0L && after(12L)._3 === 0L,
      s"pure-boilerplate doc must add nothing: ${after(12L)}")
    assert(after(11L)._1 === after(11L)._2, "fully novel doc stays novel")
    assert(after(10L)._2 > 0L && after(10L)._2 < after(10L)._1,
      "shared head deduped, novel tail counted")
  }

  test("replay is a no-op; compaction re-distincts without changing the probe") {
    val root = scratch("cdcled-rp") + "/st"
    CdcLedgerStream.maintain(corpus.toDF("doc_id", "text"), 0L, root)
    val n0 = CdcLedgerStream.serve(spark, root).count()
    CdcLedgerStream.maintain(corpus.toDF("doc_id", "text"), 0L, root)
    assert(CdcLedgerStream.serve(spark, root).count() === n0)
    val before = probed(root)
    CdcLedgerStream.maintain(corpus.take(1).toDF("doc_id", "text"), 1L, root)
    CdcLedgerStream.compact(spark, root)
    assert(SegmentStore.committed(spark, root, "compact=").nonEmpty)
    // wave 1 repeats wave 0's doc-1 chunks; compaction stores them once
    assert(CdcLedgerStream.serve(spark, root).count() === n0)
    assert(probed(root) === before)
    // STEADY-STATE layout (round 14): a fresh wave folded PAST the compact
    // segment serves together with it — it carries batch doc 11's exact
    // text, so 11's novel chunk/char counts must drop to zero
    val extra = (20L, "completely fresh content with nothing shared at all " * 2)
    CdcLedgerStream.maintain(Seq(extra).toDF("doc_id", "text"), 2L, root)
    val after = probed(root)
    assert(after === wantAgainst(corpus :+ extra))
    assert(after(11L)._2 === 0L && after(11L)._3 === 0L)
  }

  test("streamed document batches converge to the batch recompute") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val root = scratch("cdcled-st") + "/st"
    val ckpt = scratch("cdcled-ck")
    val input = MemoryStream[(Long, String)]
    val q = CdcLedgerStream.attach(
      input.toDF().toDF("doc_id", "text"), root, ckpt).start()
    try {
      input.addData(corpus.take(2))
      q.processAllAvailable()
      input.addData(corpus.drop(2))
      q.processAllAvailable()
    } finally q.stop()
    assert(probed(root) === wantAgainst(corpus))
  }

  test("chunking parameters are pinned on first fold") {
    val root = scratch("cdcled-pin") + "/st"
    CdcLedgerStream.maintain(corpus.toDF("doc_id", "text"), 0L, root)
    assert(SegmentStore.readParams(spark, root) ===
      Some(Map("window" -> 8L, "base" -> 33L, "divisor" -> 61L)))
  }
}
