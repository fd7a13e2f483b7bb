package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins [[IndexLedgerStream]]: maintained over waves equals the batch
  * index, directly and through a stream. Replay, empty-batch and crash
  * behavior is [[graft.props.LedgerProps]]'.
  */
class IndexLedgerStreamSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (10L, "alpha beta"),
    (11L, "beta gamma beta"), // duplicate word inside one doc: postings distinct
    (12L, "alpha"),
    (13L, "delta")
  ).toDF("doc_id", "text")

  private def served(root: String) =
    IndexLedgerStream.serve(spark, root).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getString(2)))).toMap

  private val want = Map(
    "alpha" -> ((2L, "10,12")),
    "beta" -> ((2L, "10,11")),
    "gamma" -> ((1L, "11")),
    "delta" -> ((1L, "13")))

  test("maintained over waves equals the batch index; df derived from postings") {
    val root = scratch("idxledger") + "/st"
    (0 until 3).foreach { w =>
      IndexLedgerStream.maintain(
        docs.filter(pmod(col("doc_id"), lit(3)) === w), w, root)
    }
    assert(served(root) === want)
  }

  test("streamed document batches converge to the batch index; versions pruned") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val root = scratch("idxledger-st") + "/st"
    val ckpt = scratch("idxledger-ck")
    val input = MemoryStream[(Long, String)]
    val q = IndexLedgerStream.attach(input.toDF().toDF("doc_id", "text"),
      root, ckpt).start()
    try {
      input.addData((10L, "alpha beta"), (11L, "beta gamma beta"))
      q.processAllAvailable()
      input.addData((12L, "alpha"), (13L, "delta"))
      q.processAllAvailable()
      assert(served(root) === want)
      val dirs = new java.io.File(root).listFiles().filter(_.isDirectory)
        .map(_.getName).filter(_.startsWith("v"))
      assert(dirs.length === 1, dirs.mkString(","))
    } finally q.stop()
  }
}
