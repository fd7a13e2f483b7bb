package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The CORPUS LM COUNT TABLES, maintained twin of
  * [[graft.ext.NgramLm.scoreDocs]]: n-gram counts are ADDITIVE, so each
  * batch folds its own counts and serving sums the live segments. Two
  * sub-stores under one root: `root/bi` holds `(th2, c2)` bigram totals,
  * `root/uni` holds `(th1, c1)` unigram totals. Keys are the 8-byte
  * xxhash64 gram surrogates of [[graft.ext.NgramLm]] — the probe's own
  * parse supplies the th2→th1 structure, so state carries no gram strings
  * (16 B per distinct gram). The n-gram order is pinned at `root` (n=2).
  *
  * Probe contract: after folding the corpus, [[probe]] ==
  * [[graft.ext.NgramLm.scoreDocs]] on the full corpus restricted to the
  * probe docs, bit for bit — both run [[graft.ext.NgramLm.scoreAgainst]].
  * Precondition inherited from the batch operator: probe docs were folded.
  *
  * TORN-COMMIT DEFENSE: one batch writes two segment directories, which
  * no filesystem commits atomically — a crash between them leaves
  * numerators without denominators. So [[serve]] and [[compact]] first run
  * [[checkParity]], which fails loudly, naming the torn batch ids, until
  * the batch is replayed; compaction never folds a torn id away.
  */
object LmLedgerStream {

  private val Params = Seq("n" -> 2L)

  private val bi = new SegmentLedger(
    StructType(Seq(StructField("th2", LongType, nullable = false),
      StructField("c2", LongType, nullable = false))),
    graft.ext.NgramLm.docBigrams(_, "doc_id", "text")
      .groupBy(col("th2")).agg(sum(col("n")).as("c2")),
    merge = SegmentLedger.sumBy("c2", "th2"))

  private val uni = new SegmentLedger(
    StructType(Seq(StructField("th1", LongType, nullable = false),
      StructField("c1", LongType, nullable = false))),
    graft.ext.NgramLm.uniCounts(_, "text"),
    merge = SegmentLedger.sumBy("c1", "th1"))

  /** Fold one batch: its bigram totals into `root/bi/batch=<id>` and its
    * unigram totals into `root/uni/batch=<id>`. The gate is the UNIGRAM
    * side: one-word documents have no bigrams but still owe their word
    * counts to every later denominator.
    *
    * `docs` — the caller's frame — is persisted for the call and
    * unpersisted on return; foreachBatch micro-batches are fresh per call.
    */
  def maintain(docs: DataFrame, batchId: Long, root: String): Unit = {
    val spark = docs.sparkSession
    SegmentStore.validateParams(spark, root, Params)
    // the batch is pinned so the bigram write re-reads cached rows, the
    // unigram aggregate so the gate and its write share one computation
    val src = docs.persist()
    val u = uni.rows(src).persist()
    try {
      if (!u.isEmpty) {
        bi.write(bi.rows(src), s"$root/bi/batch=$batchId")
        uni.write(u, s"$root/uni/batch=$batchId")
        SegmentStore.pinParams(spark, root, Params)
      }
    } finally { u.unpersist(); src.unpersist(); () }
  }

  /** Attach [[maintain]] to a stream; its restart re-delivers an
    * un-checkpointed batch, which is also what heals a torn commit.
    */
  def attach(docs: DataFrame, root: String, checkpoint: String): DataStreamWriter[Row] =
    docs.writeStream.option("checkpointLocation", checkpoint)
      .foreachBatch((df: DataFrame, id: Long) => maintain(df, id, root))

  /** Fails loudly, naming the torn batch ids, when either sub-store has a
    * live `batch=<id>` the other does not cover. An id is covered when it
    * is live on the other side too, or at-or-below the other side's newest
    * compact id (compaction merges exactly the ids it supersedes).
    */
  private[streaming] def checkParity(spark: SparkSession, root: String): Unit = {
    def view(sub: String): (Long, Set[Long]) = (
      SegmentStore.committed(spark, s"$root/$sub", "compact=")
        .map(_._1).sorted.lastOption.getOrElse(Long.MinValue),
      SegmentStore.committed(spark, s"$root/$sub", "batch=").map(_._1).toSet)
    val (biCompact, biIds) = view("bi")
    val (uniCompact, uniIds) = view("uni")
    val torn = biIds.filter(id => id > uniCompact && !uniIds(id)) ++
      uniIds.filter(id => id > biCompact && !biIds(id))
    require(torn.isEmpty, s"lm count ledger at $root is TORN: batch ids " +
      s"${torn.toSeq.sorted.mkString(",")} are committed in one of bi/uni but not " +
      "covered by the other (a crash between the two writes); replay them to heal")
  }

  /** The corpus count tables summed across live segments: (bigram
    * `(th2, c2)`, unigram `(th1, c1)`).
    */
  def serve(spark: SparkSession, root: String): (DataFrame, DataFrame) = {
    checkParity(spark, root)
    (bi.merge(bi.serve(spark, s"$root/bi")), uni.merge(uni.serve(spark, s"$root/uni")))
  }

  /** Pre-sum each sub-store's segments past its newest compact one. */
  def compact(spark: SparkSession, root: String): Unit = {
    checkParity(spark, root)
    bi.compact(spark, s"$root/bi")
    uni.compact(spark, s"$root/uni"): Unit
  }

  /** Score a probe batch against the maintained counts: its own parse plus
    * two gram-keyed joins against the served tables.
    */
  def probe(spark: SparkSession, root: String, probeDocs: DataFrame): DataFrame = {
    SegmentStore.validateParams(spark, root, Params)
    val (c2, c1) = serve(spark, root)
    graft.ext.NgramLm.scoreAgainst(
      graft.ext.NgramLm.docBigrams(probeDocs, "doc_id", "text"), c2, c1)
  }
}
