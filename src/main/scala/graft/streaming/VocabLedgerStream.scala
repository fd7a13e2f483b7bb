package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** The CORPUS VOCABULARY counts: a batch's `(word, cnt)` aggregate per
  * segment, ADDITIVE over disjoint-doc batches, so the corpus vocabulary
  * is the sum over live segments. State is vocabulary-sized (no per-doc
  * rows), and [[probeTypoCanonical]] runs entirely against it — the
  * corpus is never re-tokenized. No parameter pin: the tokenization
  * (single-space split, empty tokens dropped) has no knobs.
  *
  * Why maintained rather than sampled per batch: a typo's canonical form
  * is an ARGMAX over SUMMED corpus counts, so a per-wave decision can flip
  * once later waves arrive (pinned in the spec).
  */
object VocabLedgerStream extends SegmentLedger(
  StructType(Seq(StructField("word", StringType), StructField("cnt", LongType, nullable = false))),
  graft.ext.EditDist.vocab(_, "text"),
  merge = SegmentLedger.sumBy("cnt", "word")) {

  /** The corpus vocabulary `(word, cnt)` summed across live segments. */
  override def serve(spark: SparkSession, root: String): DataFrame =
    merge(super.serve(spark, root))

  /** [[graft.ext.EditDist.typoCanonical]] over the maintained vocabulary
    * at the caller's correction radius: == the batch recompute over the
    * folded corpus, bit for bit. The result comes back persisted (the
    * EditDist storage contract — the caller owns it).
    */
  def probeTypoCanonical(spark: SparkSession, root: String,
                         maxDist: Int = 1): DataFrame =
    graft.ext.EditDist.typoCanonical(serve(spark, root), maxDist)
}
