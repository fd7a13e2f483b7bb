package graft.streaming

import graft.SparkSpec
import graft.ext.Similarity
import org.apache.spark.sql.functions._

/** Pins [[VectorIndexStream]]'s contracts: maintained-over-waves equals
  * the batch assignment, cid partition pruning of the served layout, and
  * the drift gate tripping on a shifted distribution while passing
  * in-distribution batches. Replay and crash behavior is the shared
  * segment-ledger property's ([[graft.props.SegmentLedgerProps]]).
  */
class VectorIndexStreamSpec extends SparkSpec {
  import spark.implicits._

  // two well-separated blobs so 2 centroids are stable: ids 0-9 near
  // (1,0,0), ids 10-19 near (0,1,0) with small deterministic jitter
  private def corpus = (0 until 20).map { i =>
    val j = (i % 5) * 0.01f
    if (i < 10) (i.toLong, Seq(1.0f, j, 0.0f)) else (i.toLong, Seq(j, 1.0f, 0.0f))
  }.toDF("vec_id", "embedding")

  private def model = Similarity.ivfTrain(corpus, nlist = 2, iters = 2)

  private def servedPairs(root: String): Set[(Long, Int)] =
    VectorIndexStream.serve(spark, root).collect()
      .map(r => (r.getLong(1), r.getInt(0))).toSet

  private def batchPairs(m: Similarity.IvfModel): Set[(Long, Int)] =
    Similarity.ivfAssign(corpus, m).collect()
      .map(r => (r.getLong(1), r.getInt(0))).toSet

  test("maintained over waves equals the batch assignment; vectors ride along") {
    val m = model
    val base = VectorIndexStream.quantizationError(Similarity.ivfAssign(corpus, m), m)
    val root = java.nio.file.Files.createTempDirectory("annledger").toString + "/l"
    (0 until 3).foreach { w =>
      VectorIndexStream.maintain(
        corpus.filter(pmod(col("vec_id"), lit(3)) === w), w, root, m, base)
    }
    assert(servedPairs(root) === batchPairs(m))
    val dims = VectorIndexStream.serve(spark, root)
      .select(size(col("n_vec"))).distinct().collect().map(_.getInt(0)).toSeq
    assert(dims === Seq(3))
  }

  test("drift gate trips on a shifted distribution, passes in-distribution") {
    val m = model
    val base = VectorIndexStream.quantizationError(Similarity.ivfAssign(corpus, m), m)
    assert(base > 0 && base < 0.01, s"blob corpus should quantize tightly, got $base")
    val root = java.nio.file.Files.createTempDirectory("annledger-dr").toString + "/l"
    VectorIndexStream.maintain(corpus, 0L, root, m, base) // in-distribution: fine
    // a new modality nowhere near either centroid: error ~1 >> 2x baseline
    val shifted = (100 until 110).map(i => (i.toLong, Seq(0.0f, 0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val ex = intercept[IllegalStateException] {
      VectorIndexStream.maintain(shifted, 1L, root, m, base)
    }
    assert(ex.getMessage.contains("quantization error"))
    // the refused batch must not have been committed
    assert(servedPairs(root) === batchPairs(m))
  }

  test("cid filter prunes the served layout to matching partition files") {
    val m = model
    val base = VectorIndexStream.quantizationError(Similarity.ivfAssign(corpus, m), m)
    val root = java.nio.file.Files.createTempDirectory("annledger-pr").toString + "/l"
    (0 until 2).foreach { w =>
      VectorIndexStream.maintain(
        corpus.filter(pmod(col("vec_id"), lit(2)) === w), w, root, m, base)
    }
    val cid0 = VectorIndexStream.serve(spark, root).filter(col("cid") === 0)
    val plan = cid0.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("cid"),
      plan.take(3000)) // files pruned pre-IO, as with the batch layout
    assert(cid0.count() > 0)
  }

  test("compaction merges batch dirs into one segment; content and pruning unchanged") {
    val m = model
    val base = VectorIndexStream.quantizationError(Similarity.ivfAssign(corpus, m), m)
    val root = java.nio.file.Files.createTempDirectory("annledger-cp").toString + "/l"
    (0 until 3).foreach { w =>
      VectorIndexStream.maintain(
        corpus.filter(pmod(col("vec_id"), lit(3)) === w), w, root, m, base)
    }
    val want = servedPairs(root)
    assert(VectorIndexStream.compact(spark, root) === Some(2L))
    assert(servedPairs(root) === want)
    val dirs = new java.io.File(root).listFiles().map(_.getName).toSet
    assert(dirs === Set("compact=2"), dirs)
    // pruning survives compaction (cid stays a partition column)
    val cid0 = VectorIndexStream.serve(spark, root).filter(col("cid") === 0)
    assert(cid0.queryExecution.executedPlan.toString.contains("PartitionFilters: ["))
    // nothing new to merge: no-op
    assert(VectorIndexStream.compact(spark, root) === None)
    // a later batch folds into the NEXT compaction together with the segment
    VectorIndexStream.maintain(
      (100 until 105).map(i => (i.toLong, Seq(1.0f, 0.0f, 0.0f)))
        .toDF("vec_id", "embedding"), 7L, root, m, base)
    val want2 = servedPairs(root)
    assert(VectorIndexStream.compact(spark, root) === Some(7L))
    assert(servedPairs(root) === want2)
    assert(new java.io.File(root).listFiles().map(_.getName).toSet === Set("compact=7"))
  }

  test("streamed embedding batches converge to the batch assignment") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val m = model
    val base = VectorIndexStream.quantizationError(Similarity.ivfAssign(corpus, m), m)
    val root = java.nio.file.Files.createTempDirectory("annledger-st").toString + "/l"
    val ckpt = java.nio.file.Files.createTempDirectory("annledger-ck").toString
    val input = MemoryStream[(Long, Seq[Float])]
    val q = VectorIndexStream.attach(
      input.toDF().toDF("vec_id", "embedding"), root, ckpt, m, base).start()
    try {
      val rows = corpus.collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
      input.addData(rows.take(10).toIndexedSeq)
      q.processAllAvailable()
      input.addData(rows.drop(10).toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    assert(servedPairs(root) === batchPairs(m))
  }
}
