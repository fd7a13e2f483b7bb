package graft.streaming

import graft.SparkSpec

/** Pins [[LmLedgerStream]]: ledger-served scores equal the batch
  * recompute ([[graft.ext.NgramLm.scoreDocs]]) restricted to the probe
  * slice once the full corpus is folded, additivity across waves +
  * compaction, replay idempotence, and the parameter pin.
  */
class LmLedgerStreamSpec extends SparkSpec {
  import spark.implicits._

  // repetitive corpus: bigram counts differ per wave so additivity is
  // actually exercised; doc 5 is one-word (no bigrams — not emitted)
  private val corpus = Seq(
    (1L, "the cat sat"),
    (2L, "the cat ran"),
    (3L, "a cat sat"),
    (4L, "the dog sat"),
    (5L, "cat"))

  private def scoresVia(f: => org.apache.spark.sql.DataFrame): Map[Long, (Long, Long)] =
    f.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap

  test("probe == batch recompute on the probe slice after folding the corpus") {
    val root = scratch("lmled") + "/st"
    val docs = corpus.toDF("doc_id", "text")
    LmLedgerStream.maintain(docs.filter($"doc_id" <= 2), 0L, root)
    LmLedgerStream.maintain(docs.filter($"doc_id" > 2), 1L, root)
    val probeSlice = docs.filter($"doc_id" % 2 === 0)
    val got = scoresVia(LmLedgerStream.probe(spark, root, probeSlice))
    val want = scoresVia(graft.ext.NgramLm.scoreDocs(docs)
      .filter($"doc_id" % 2 === 0))
    assert(got === want)
    assert(got.keySet === Set(2L, 4L))
    // compaction pre-sums without changing any score
    LmLedgerStream.compact(spark, root)
    assert(scoresVia(LmLedgerStream.probe(spark, root, probeSlice)) === want)
    assert(SegmentStore.committed(spark, s"$root/bi", "compact=").nonEmpty)
    // STEADY-STATE layout (round 14): a fresh wave folded PAST the compact
    // serves together with it — the new doc's counts shift every
    // denominator, so the probe must equal the recompute over corpus+extra
    val extra = Seq((6L, "the cat sat"))
    LmLedgerStream.maintain(extra.toDF("doc_id", "text"), 2L, root)
    assert(scoresVia(LmLedgerStream.probe(spark, root, probeSlice)) ===
      scoresVia(graft.ext.NgramLm.scoreDocs((corpus ++ extra).toDF("doc_id", "text"))
        .filter($"doc_id" % 2 === 0 && $"doc_id" <= 5)))
  }

  test("replayed batch is a no-op; one-word batches still fold unigram counts") {
    val root = scratch("lmled-rp") + "/st"
    val docs = corpus.toDF("doc_id", "text")
    LmLedgerStream.maintain(docs, 0L, root)
    val (bi0, uni0) = LmLedgerStream.serve(spark, root)
    val (biSum, uniSum) = (bi0.agg(org.apache.spark.sql.functions.sum("c2"))
      .head.getLong(0), uni0.agg(org.apache.spark.sql.functions.sum("c1"))
      .head.getLong(0))
    LmLedgerStream.maintain(docs, 0L, root) // replay: overwrites, not doubles
    val (bi1, uni1) = LmLedgerStream.serve(spark, root)
    assert(bi1.agg(org.apache.spark.sql.functions.sum("c2")).head.getLong(0) === biSum)
    assert(uni1.agg(org.apache.spark.sql.functions.sum("c1")).head.getLong(0) === uniSum)
    // a bigram-free batch still owes its word counts to the denominators
    LmLedgerStream.maintain(Seq((9L, "solo")).toDF("doc_id", "text"), 1L, root)
    val (_, uni2) = LmLedgerStream.serve(spark, root)
    assert(uni2.agg(org.apache.spark.sql.functions.sum("c1")).head.getLong(0)
      === uniSum + 1)
  }

  test("parameter pin: a store folded at n=2 is refused nothing, but the pin exists") {
    val root = scratch("lmled-pin") + "/st"
    LmLedgerStream.maintain(corpus.toDF("doc_id", "text"), 0L, root)
    assert(SegmentStore.readParams(spark, root) === Some(Map("n" -> 2L)))
  }

  test("streamed document batches converge to the batch recompute") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val root = scratch("lmled-st") + "/st"
    val ckpt = scratch("lmled-ck")
    val input = MemoryStream[(Long, String)]
    val q = LmLedgerStream.attach(
      input.toDF().toDF("doc_id", "text"), root, ckpt).start()
    try {
      input.addData(corpus.take(2))
      q.processAllAvailable()
      input.addData(corpus.drop(2))
      q.processAllAvailable()
    } finally q.stop()
    val probeSlice = corpus.toDF("doc_id", "text").filter($"doc_id" % 2 === 0)
    assert(scoresVia(LmLedgerStream.probe(spark, root, probeSlice)) ===
      scoresVia(graft.ext.NgramLm.scoreDocs(corpus.toDF("doc_id", "text"))
        .filter($"doc_id" % 2 === 0)))
  }

  test("torn commit: bi committed without its uni twin fails loudly by id; replay heals") {
    val root = scratch("lmled-torn") + "/st"
    val docs = corpus.toDF("doc_id", "text")
    LmLedgerStream.maintain(docs.filter($"doc_id" <= 2), 0L, root)
    // simulate a crash between the bigram and unigram writes of batch 1:
    // fold it, then delete the unigram segment (the second write)
    LmLedgerStream.maintain(docs.filter($"doc_id" > 2), 1L, root)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$root/uni/batch=1"), true))
    val probeSlice = docs.filter($"doc_id" % 2 === 0)
    val err = intercept[IllegalArgumentException] {
      LmLedgerStream.probe(spark, root, probeSlice).collect()
    }
    assert(err.getMessage.contains("TORN") && err.getMessage.contains("1"))
    // compaction must refuse too — folding the torn id into a compact
    // segment would destroy the evidence
    val cerr = intercept[IllegalArgumentException] { LmLedgerStream.compact(spark, root) }
    assert(cerr.getMessage.contains("TORN"))
    // replaying the named batch heals the store (idempotent overwrite)
    LmLedgerStream.maintain(docs.filter($"doc_id" > 2), 1L, root)
    val got = scoresVia(LmLedgerStream.probe(spark, root, probeSlice))
    val want = scoresVia(graft.ext.NgramLm.scoreDocs(docs).filter($"doc_id" % 2 === 0))
    assert(got === want)
    // healthy mid-compaction states are NOT torn: compact bi only (the
    // compact-crash window between the two sub-store compactions)
    SegmentStore.compact(spark, s"$root/bi",
      spark.read.parquet(_).select($"th2", $"c2"),
      (df, path) => df.groupBy($"th2")
        .agg(org.apache.spark.sql.functions.sum($"c2").as("c2"))
        .write.mode("overwrite").parquet(path)): Unit
    assert(scoresVia(LmLedgerStream.probe(spark, root, probeSlice)) === want)
  }
}
