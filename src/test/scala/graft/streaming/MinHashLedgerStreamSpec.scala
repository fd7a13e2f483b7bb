package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins [[MinHashLedgerStream]]: probe-over-waves equals the batch
  * recompute ([[graft.ext.MinHashDedup.newAgainstCorpusMd5]]) after every
  * ingest, replay idempotence, the crash-window read rule, compaction
  * transparency, and the MemoryStream attach path.
  */
class MinHashLedgerStreamSpec extends SparkSpec {
  import spark.implicits._

  // corpus; batch doc 10 is an exact dup of doc 1 (all bands collide,
  // Jaccard 1.0 — a deterministic match), 11 shares nothing, 12 is too
  // short to shingle (< 3 words -> novel by contract)
  private val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "pack my box with five dozen liquor jugs"),
    (3L, "a completely different sentence about graph ledgers and state"))
  private val batch = Seq(
    (10L, "the quick brown fox jumps over the lazy dog"),
    (11L, "totally novel words nothing shared here at all"),
    (12L, "too short"))

  private def probed(root: String): Set[Long] =
    MinHashLedgerStream.probe(spark, root, batch.toDF("doc_id", "text"))
      .collect().map(_.getLong(0)).toSet

  private def want(seen: Seq[(Long, String)]): Set[Long] =
    graft.ext.MinHashDedup.newAgainstCorpusMd5(
        batch.toDF("doc_id", "text"), seen.toDF("doc_id", "text"))
      .collect().map(_.getLong(0)).toSet

  test("probe over waves == batch recompute after each ingest") {
    val root = scratch("mhled") + "/st"
    assert(probed(root) === Set(10L, 11L, 12L)) // empty ledger: all novel
    var seen = Seq.empty[(Long, String)]
    corpus.grouped(2).zipWithIndex.foreach { case (w, i) =>
      MinHashLedgerStream.maintain(w.toDF("doc_id", "text"), i.toLong, root)
      seen ++= w
      assert(probed(root) === want(seen), s"after wave $i")
    }
    assert(probed(root) === Set(11L, 12L)) // and the fixture is non-trivial
  }

  test("replayed and empty batches are no-ops; short-only batches commit no segment") {
    val root = scratch("mhled-rp") + "/st"
    MinHashLedgerStream.maintain(corpus.toDF("doc_id", "text"), 0L, root)
    val served = MinHashLedgerStream.serve(spark, root).count()
    MinHashLedgerStream.maintain(corpus.take(2).toDF("doc_id", "text"), 0L, root)
    assert(MinHashLedgerStream.serve(spark, root).count() === 2) // overwrote, not appended
    MinHashLedgerStream.maintain(corpus.toDF("doc_id", "text"), 0L, root)
    assert(MinHashLedgerStream.serve(spark, root).count() === served)
    MinHashLedgerStream.maintain(corpus.toDF("doc_id", "text").limit(0), 1L, root)
    MinHashLedgerStream.maintain(Seq((5L, "so short")).toDF("doc_id", "text"), 2L, root)
    assert(SegmentStore.committed(spark, root, "batch=").map(_._1).sorted === Seq(0L))
  }

  test("sketch parameters are pinned: a mismatched fold or probe fails loudly") {
    val root = scratch("mhled-pin") + "/st"
    MinHashLedgerStream.maintain(corpus.toDF("doc_id", "text"), 0L, root) // h=16, k=3
    val foldErr = intercept[IllegalArgumentException] {
      MinHashLedgerStream.maintain(corpus.toDF("doc_id", "text"), 1L, root, h = 32)
    }
    assert(foldErr.getMessage.contains("refusing"))
    val probeErr = intercept[IllegalArgumentException] {
      MinHashLedgerStream.probe(spark, root, batch.toDF("doc_id", "text"), h = 32, bands = 8)
    }
    assert(probeErr.getMessage.contains("refusing to probe"))
    val kErr = intercept[IllegalArgumentException] {
      MinHashLedgerStream.probe(spark, root, batch.toDF("doc_id", "text"), k = 4)
    }
    assert(kErr.getMessage.contains("refusing to probe"))
    assert(probed(root) === want(corpus)) // matching params still serve
    // a store in the earlier (doc_id, shingles, sigs) layout, pinned by h
    // and k only: read with today's schema it would serve text = NULL and
    // every batch doc would come back novel, so both calls refuse it
    val old = scratch("mhled-old") + "/st"
    graft.ext.MinHashDedup.signaturesMd5(corpus.toDF("doc_id", "text"))
      .write.parquet(s"$old/batch=0")
    SegmentStore.pinParams(spark, old, Seq("h" -> 16L, "k" -> 3L))
    val oldFold = intercept[IllegalArgumentException] {
      MinHashLedgerStream.maintain(batch.toDF("doc_id", "text"), 1L, old)
    }
    assert(oldFold.getMessage.contains("refusing"))
    val oldProbe = intercept[IllegalArgumentException] {
      MinHashLedgerStream.probe(spark, old, batch.toDF("doc_id", "text"))
    }
    assert(oldProbe.getMessage.contains("refusing to probe"))
  }

  test("mixed-case and multi-space texts: probe == batch recompute") {
    val root = scratch("mhled-case") + "/st"
    val seen = Seq(
      (1L, "The Quick  Brown fox JUMPS over the lazy dog"),
      (2L, "  leading spaces and   doubled   spaces here  "),
      (3L, "Ünïcödé wörds ÀND Ascii words mixed in a line"),
      (4L, "one two"))
    val probes = Seq(
      (10L, "the quick brown fox jumps over THE LAZY DOG"), // case, one space fewer
      (11L, "the quick  brown fox jumps over the lazy dog"), // case only: a match
      (12L, "leading spaces and doubled spaces here"),       // spacing differs
      (13L, "  LEADING SPACES AND   DOUBLED   SPACES HERE  "),
      (14L, "ünïcödé WÖRDS ànd ascii words mixed in a line"),
      (15L, "One Two"))
    MinHashLedgerStream.maintain(seen.take(2).toDF("doc_id", "text"), 0L, root)
    MinHashLedgerStream.maintain(seen.drop(2).toDF("doc_id", "text"), 1L, root)
    val b = probes.toDF("doc_id", "text")
    val got = MinHashLedgerStream.probe(spark, root, b).collect().map(_.getLong(0)).toSet
    val ref = graft.ext.MinHashDedup.newAgainstCorpusMd5(b, seen.toDF("doc_id", "text"))
      .collect().map(_.getLong(0)).toSet
    assert(got === ref)
    assert(!got(11L) && !got(13L) && !got(14L)) // case folds; identical spacing matches
    assert(got(15L))                              // too short to shingle: novel
  }

  test("the probe reads the ledger once: at most 6 jobs over three live segments") {
    val root = scratch("mhled-jobs") + "/st"
    corpus.zipWithIndex.foreach { case (d, i) =>
      MinHashLedgerStream.maintain(Seq(d).toDF("doc_id", "text"), i.toLong, root)
      if (i == 1) MinHashLedgerStream.compact(spark, root)
    }
    MinHashLedgerStream.maintain(batch.take(1).map { case (_, t) => (20L, t) }
      .toDF("doc_id", "text"), 3L, root)
    assert(SegmentStore.live(spark, root).size === 3)
    val (novel, rec) = graft.Obs.measure(spark, "probe") {
      MinHashLedgerStream.probe(spark, root, batch.toDF("doc_id", "text"))
    }
    try {
      assert(novel.collect().map(_.getLong(0)).toSet === Set(11L, 12L))
      assert(rec.jobs <= 6, rec.jobRows.map(_.site).mkString("; "))
    } finally graft.Materialize.release(novel, blocking = true)
  }

  test("crash leftovers (no _SUCCESS) and non-numeric segment names are ignored") {
    val root = scratch("mhled-cw") + "/st"
    MinHashLedgerStream.maintain(corpus.toDF("doc_id", "text"), 0L, root)
    val served = probed(root)
    // a crashed batch write: copy batch=0 to batch=7, drop its _SUCCESS
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    org.apache.hadoop.fs.FileUtil.copy(
      fs, new org.apache.hadoop.fs.Path(s"$root/batch=0"),
      fs, new org.apache.hadoop.fs.Path(s"$root/batch=7"),
      false, spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/batch=7/_SUCCESS"), false)
    // a foreign dir whose name would NumberFormat-crash a naive parse
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/batch="))
    fs.create(new org.apache.hadoop.fs.Path(s"$root/batch=/_SUCCESS")).close()
    assert(probed(root) === served)
    assert(SegmentStore.live(spark, root).size === 1)
  }

  test("compaction merges batches without changing the probe") {
    val root = scratch("mhled-cp") + "/st"
    MinHashLedgerStream.maintain(corpus.take(2).toDF("doc_id", "text"), 0L, root)
    MinHashLedgerStream.maintain(corpus.drop(2).toDF("doc_id", "text"), 1L, root)
    val before = probed(root)
    assert(MinHashLedgerStream.compact(spark, root) === Some(1L))
    assert(probed(root) === before)
    assert(SegmentStore.live(spark, root) ===
      Seq(s"file:$root/compact=1"))
    // a later ingest appends past the compact segment and still serves
    MinHashLedgerStream.maintain(
      Seq((4L, "totally novel words nothing shared here at all"))
        .toDF("doc_id", "text"), 2L, root)
    assert(probed(root) === before - 11L)
  }

  test("streamed document batches converge to the batch recompute") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val root = scratch("mhled-st") + "/st"
    val ckpt = scratch("mhled-ck")
    val input = MemoryStream[(Long, String)]
    val q = MinHashLedgerStream.attach(
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
