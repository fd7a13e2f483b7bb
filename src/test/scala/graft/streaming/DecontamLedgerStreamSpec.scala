package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins [[DecontamLedgerStream]]: probe-over-waves equals the batch
  * operator after every ingest, the `n` pin, and the MemoryStream attach
  * path. Replay, empty-batch and crash behavior is
  * [[graft.props.LedgerProps]]'.
  */
class DecontamLedgerStreamSpec extends SparkSpec {
  import spark.implicits._

  // training docs; eval doc shares the 3-gram "c d e" with docs 1 and 3
  private val train = Seq(
    (1L, "a b c d e f"),
    (2L, "x y z w v u"),
    (3L, "q c d e r s"),
    (4L, "m n o p q r"))
  private val evalSet = Seq((100L, "c d e zz yy")).toDF("doc_id", "text")

  private def want(docs: Seq[(Long, String)]): Map[Long, Long] =
    graft.ext.Decontaminate.contaminated(
        docs.toDF("doc_id", "text"), evalSet, n = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def probed(root: String): Map[Long, Long] =
    DecontamLedgerStream.probe(spark, root, evalSet, n = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("probe over waves == batch contaminated after each ingest") {
    val root = scratch("decontam") + "/st"
    val waves = train.grouped(2).toSeq
    var seen = Seq.empty[(Long, String)]
    waves.zipWithIndex.foreach { case (w, i) =>
      DecontamLedgerStream.maintain(w.toDF("doc_id", "text"), i.toLong, root, n = 3)
      seen ++= w
      assert(probed(root) === want(seen), s"after wave $i")
    }
    assert(probed(root).keySet === Set(1L, 3L)) // and the fixture is non-trivial
  }

  test("eval-set change is probe-only: a new benchmark hits the same ledger") {
    val root = scratch("decontam-ev") + "/st"
    DecontamLedgerStream.maintain(train.toDF("doc_id", "text"), 0L, root, n = 3)
    val eval2 = Seq((200L, "n o p q hh")).toDF("doc_id", "text")
    val got = DecontamLedgerStream.probe(spark, root, eval2, n = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = graft.ext.Decontaminate.contaminated(
        train.toDF("doc_id", "text"), eval2, n = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expected)
    assert(got.keySet === Set(4L))
  }

  test("n-gram order is pinned: a mismatched fold or probe fails loudly") {
    import spark.implicits._
    val root = scratch("dcled-pin") + "/st"
    val train = Seq((1L, "a b c d e f g")).toDF("doc_id", "text")
    DecontamLedgerStream.maintain(train, 0L, root, n = 3)
    val foldErr = intercept[IllegalArgumentException] {
      DecontamLedgerStream.maintain(train, 1L, root, n = 4)
    }
    assert(foldErr.getMessage.contains("refusing"))
    val probeErr = intercept[IllegalArgumentException] {
      DecontamLedgerStream.probe(spark, root, train, n = 2)
    }
    assert(probeErr.getMessage.contains("refusing to probe"))
    assert(DecontamLedgerStream.probe(spark, root, train, n = 3).count() === 1L)
  }

  test("streamed document batches converge to the batch operator") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val root = scratch("decontam-st") + "/st"
    val ckpt = scratch("decontam-ck")
    val input = MemoryStream[(Long, String)]
    val q = DecontamLedgerStream.attach(
      input.toDF().toDF("doc_id", "text"), root, ckpt, n = 3).start()
    try {
      input.addData(train.take(2))
      q.processAllAvailable()
      input.addData(train.drop(2))
      q.processAllAvailable()
    } finally q.stop()
    assert(probed(root) === want(train))
  }
}
