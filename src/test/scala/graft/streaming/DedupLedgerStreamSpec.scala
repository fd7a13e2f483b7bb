package graft.streaming

import graft.SparkSpec
import graft.ext.Components
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Pins [[DedupLedgerStream]]'s streamed convergence to the full
  * recompute. Replay, empty-batch and crash behavior is
  * [[graft.props.LedgerProps]]'.
  */
class DedupLedgerStreamSpec extends SparkSpec {

  test("streamed edge batches converge to the full-recompute ledger; versions pruned") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = scratch("state")
    val input = MemoryStream[(Long, Long)]
    val q = DedupLedgerStream.attach(
      input.toDF().toDF("doc_a", "doc_b"), root, scratch("ckpt")).start()
    try {
      input.addData((1L, 2L))
      q.processAllAvailable()
      // mid-stream ledger: one component {1,2}
      assert(DedupLedgerStream.serve(spark, root)
        .as[(Long, Long)].collect().toMap === Map(1L -> 1L, 2L -> 1L))
      input.addData((2L, 3L), (10L, 11L))
      q.processAllAvailable()
      input.addData((3L, 10L)) // merges the two components
      q.processAllAvailable()
      val got = DedupLedgerStream.serve(spark, root)
        .as[(Long, Long)].collect().toMap
      val all = Seq((1L, 2L), (2L, 3L), (10L, 11L), (3L, 10L))
      val want = Components.connectedComponents(all.toDF("doc_a", "doc_b"))
        .as[(Long, Long)].collect().toMap
      assert(got === want)
      assert(got(11L) === 1L) // the merge propagated to old members
      // superseded versions pruned: exactly one v* dir remains
      val dirs = new java.io.File(root).listFiles().filter(_.isDirectory)
        .map(_.getName).filter(_.startsWith("v"))
      assert(dirs.length === 1, dirs.mkString(","))
    } finally q.stop()
  }
}
