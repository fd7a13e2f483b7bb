package graft.streaming

import graft.SparkSpec

/** Pins [[BoilerLedgerStream]]: probe-over-waves equals the batch
  * coverage recompute (df is additive over disjoint-doc batches),
  * serve-time thresholding, replay idempotence, compaction pre-summing,
  * and the n pin.
  */
class BoilerLedgerStreamSpec extends SparkSpec {
  import spark.implicits._

  // 'common header line' 3-grams reach df=4 across the corpus (>= minDf 3)
  // only when ALL waves are folded — per-wave df is 2 (sub-threshold), so
  // the serve-time threshold over SUMMED counts is actually exercised
  private val corpus = Seq(
    (1L, "common header line alpha content one two"),
    (2L, "common header line beta content three four"),
    (3L, "common header line gamma content five six"),
    (4L, "common header line delta content seven eight"))
  private val batch = Seq(
    (10L, "common header line epsilon fresh words here"),
    (11L, "totally unrelated text with nothing shared at all"))

  private def probed(root: String): Map[Long, (Int, Int, Double)] =
    BoilerLedgerStream.probe(spark, root, batch.toDF("doc_id", "text"),
        n = 3, minDf = 3L)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getDouble(3))))
      .toMap

  private def want(seen: Seq[(Long, String)]): Map[Long, (Int, Int, Double)] =
    graft.ext.Boilerplate.coverage(
        (seen ++ batch).toDF("doc_id", "text"), n = 3, minDf = 3L)
      .filter($"doc_id" >= 10L)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getDouble(3))))
      .toMap

  test("probe over waves == coverage recompute; threshold crosses only on summed df") {
    val root = scratch("boled") + "/st"
    // waves of two docs each: per-wave df for the header 3-grams is 2 < 3
    BoilerLedgerStream.maintain(
      corpus.take(2).toDF("doc_id", "text"), 0L, root, n = 3)
    // the batch itself is NOT folded in this spec's recompute twin, so
    // fold it as its own wave to keep maintained == recompute comparable
    BoilerLedgerStream.maintain(batch.toDF("doc_id", "text"), 1L, root, n = 3)
    assert(probed(root) === want(corpus.take(2)), "after wave 0+batch")
    // header df so far: 2 (corpus) + 1 (batch doc 10) = 3 — at threshold
    assert(probed(root)(10L)._2 > 0, "summed df must cross the threshold")
    BoilerLedgerStream.maintain(
      corpus.drop(2).toDF("doc_id", "text"), 2L, root, n = 3)
    val after = probed(root)
    assert(after === want(corpus), "after all waves")
    assert(after(11L)._2 === 0 && after(11L)._3 === 0.0, "unshared doc clean")
  }

  test("replay no-op; compaction pre-sums without changing the probe") {
    val root = scratch("boled-rp") + "/st"
    BoilerLedgerStream.maintain(corpus.toDF("doc_id", "text"), 0L, root, n = 3)
    BoilerLedgerStream.maintain(batch.toDF("doc_id", "text"), 1L, root, n = 3)
    val dfSum = BoilerLedgerStream.serve(spark, root)
      .agg(org.apache.spark.sql.functions.sum("df")).head.getLong(0)
    BoilerLedgerStream.maintain(corpus.toDF("doc_id", "text"), 0L, root, n = 3)
    assert(BoilerLedgerStream.serve(spark, root)
      .agg(org.apache.spark.sql.functions.sum("df")).head.getLong(0) === dfSum)
    val before = probed(root)
    BoilerLedgerStream.compact(spark, root)
    assert(SegmentStore.committed(spark, root, "compact=").nonEmpty)
    assert(probed(root) === before)
    // compaction pre-sums: each (h, t) appears once in the compacted layout
    val served = BoilerLedgerStream.serve(spark, root)
    assert(served.count() === served.select("t").distinct().count())
    // STEADY-STATE layout (round 14): a fresh wave folded PAST the compact
    // segment serves together with it — its header df adds to the
    // compacted sums
    val extra = Seq((5L, "common header line zeta content nine ten"))
    BoilerLedgerStream.maintain(extra.toDF("doc_id", "text"), 2L, root, n = 3)
    assert(probed(root) === want(corpus ++ extra))
  }

  test("two-phase serve: a planted 8-byte collision pair still cannot promote") {
    // the xxhash64 prescreen MERGES colliding spans' counts, so two rare
    // spans sharing one h could pass phase 1 together — phase 2's exact
    // string-level re-sum must still reject both. Real xxhash64 collisions
    // are not constructible here, so plant one directly in the state
    // layout (serve reads committed segments; the fabricated rows are
    // exactly what a collision would have persisted).
    val root = scratch("boled-col") + "/st"
    BoilerLedgerStream.maintain(corpus.toDF("doc_id", "text"), 0L, root, n = 3)
    Seq((42L, "rare span one", 3L), (42L, "rare span two", 3L),
      (7L, "hot span", 6L))
      .toDF("h", "t", "df")
      .write.mode("overwrite").parquet(s"$root/batch=1")
    val hot = BoilerLedgerStream.hotSpans(spark, root, minDf = 5L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // colliding pair sums to 6 >= 5 at the hash level but neither string
    // reaches 5 — both rejected; the honestly-hot planted span promotes
    assert(!hot.contains("rare span one") && !hot.contains("rare span two"))
    assert(hot("hot span") === 6L)
    // and the phase-1 scan must not read the text column at all: the
    // pruned read schema is the 16 B/row claim made in the scaladoc
    val hotCols = BoilerLedgerStream.hotSpans(spark, root, minDf = 5L)
      .queryExecution.executedPlan.toString
    assert(hotCols.contains("ReadSchema: struct<h:bigint,df:bigint>"),
      s"phase-1 scan must prune the text column:\n$hotCols")
  }

  test("streamed document batches converge to the batch recompute") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val root = scratch("boled-st") + "/st"
    val ckpt = scratch("boled-ck")
    val input = MemoryStream[(Long, String)]
    val q = BoilerLedgerStream.attach(
      input.toDF().toDF("doc_id", "text"), root, ckpt).start()
    try {
      input.addData(corpus)
      q.processAllAvailable()
      input.addData(batch) // the probe's recompute twin folds the batch too
      q.processAllAvailable()
    } finally q.stop()
    assert(probed(root) === want(corpus))
  }

  test("the n-gram order is pinned on first fold") {
    val root = scratch("boled-pin") + "/st"
    BoilerLedgerStream.maintain(corpus.toDF("doc_id", "text"), 0L, root, n = 3)
    assert(SegmentStore.readParams(spark, root) === Some(Map("n" -> 3L)))
    val e = intercept[IllegalArgumentException] {
      BoilerLedgerStream.probe(spark, root, batch.toDF("doc_id", "text"), n = 2)
    }
    assert(e.getMessage.contains("refusing"))
  }
}
