package graft.streaming

import graft.SparkSpec
import graft.ext.PageRank
import org.apache.spark.sql.functions._

/** Pins [[PageRankLedgerStream]]: maintained-over-waves equals the full
  * fixed-round recompute over every edge folded, the warm-start handoff,
  * and the MemoryStream attach path. Replay, empty-batch and crash
  * behavior (including an uncommitted edge dir) is
  * [[graft.props.LedgerProps]]'.
  */
class PageRankLedgerStreamSpec extends SparkSpec {
  import spark.implicits._

  private val allEdges = Seq(
    ("a", "b"), ("b", "a"), ("b", "c"), ("c", "a"),
    ("d", "a"), ("a", "d"), ("c", "d"), ("e", "a"), ("a", "e"))

  private def scores(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
    df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  private def want(edges: Seq[(String, String)], iters: Int = 4): Map[String, Long] =
    scores(PageRank.pagerankInt(edges.toDF("src", "dst"), iters))

  test("maintained over waves == full recompute after each batch; bootstrap included") {
    val root = scratch("prledger") + "/st"
    val waves = allEdges.grouped(3).toSeq
    var seen = Seq.empty[(String, String)]
    waves.zipWithIndex.foreach { case (w, i) =>
      PageRankLedgerStream.maintain(w.toDF("src", "dst"), i.toLong, root, iters = 4)
      seen ++= w
      assert(scores(PageRankLedgerStream.serve(spark, root, iters = 4)) ===
        want(seen), s"after wave $i")
    }
  }

  test("warm-start handoff: commitPrecomputed seeds state; maintain continues from it") {
    val root = scratch("prledger-ws") + "/st"
    val b0 = allEdges.take(5)
    val b1 = allEdges.drop(5)
    // batch engine hands its ledger over at parquet-write cost...
    PageRankLedgerStream.commitPrecomputed(b0.toDF("src", "dst"), 0L, root,
      PageRank.pagerankRounds(b0.toDF("src", "dst"), iters = 4))
    assert(scores(PageRankLedgerStream.serve(spark, root, iters = 4)) === want(b0))
    // ...and the genuine incremental maintain continues from the seeded state
    PageRankLedgerStream.maintain(b1.toDF("src", "dst"), 1L, root, iters = 4)
    assert(scores(PageRankLedgerStream.serve(spark, root, iters = 4)) === want(allEdges))
    assert(PageRankLedgerStream.edges(spark, root).count() === allEdges.size.toLong)
  }

  test("streamed edge batches converge to the batch recompute") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val root = scratch("prledger-st") + "/st"
    val ckpt = scratch("prledger-ck")
    val input = MemoryStream[(String, String)]
    val q = PageRankLedgerStream.attach(
      input.toDF().toDF("src", "dst"), root, ckpt, iters = 4).start()
    try {
      input.addData(allEdges.take(4))
      q.processAllAvailable()
      input.addData(allEdges.drop(4))
      q.processAllAvailable()
    } finally q.stop()
    assert(scores(PageRankLedgerStream.serve(spark, root, iters = 4)) ===
      want(allEdges))
  }
}
