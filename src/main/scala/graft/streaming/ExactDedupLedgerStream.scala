package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, xxhash64}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** The EXACT-CONTENT LEDGER: the precomputed 8-byte content-hash table
  * [[graft.ext.ExactDedup.newAgainstCorpus]] promises as its steady state.
  * State is one `(xxhash64(text), text)` row per distinct content of a
  * batch; cross-segment repeats are harmless (the probe's semi/anti joins
  * are multiplicity-blind) and compaction squeezes them out. NULL text is
  * content too, as in the batch operator.
  *
  * State width at 100 TB: the verify TEXT rides in state so the probe is
  * bit-identical to the batch operator; a deployment stores
  * `(xxhash64, md5(text))` instead and verifies on the hash pair, with
  * layout and probe shape unchanged.
  */
object ExactDedupLedgerStream extends SegmentLedger(
  StructType(Seq(StructField("h", LongType, nullable = false), StructField("t", StringType))),
  _.select(xxhash64(col("text")).as("h"), col("text").as("t")).distinct(),
  merge = _.distinct()) {

  /** Which docs of a NEW batch are absent (by content) from everything
    * ever folded: [[graft.ext.ExactDedup.novelAgainstHashes]] against the
    * served state — a left_anti on the 8-byte key, text verify only for
    * hash-matched candidates.
    */
  def probe(spark: SparkSession, root: String, batch: DataFrame): DataFrame =
    graft.ext.ExactDedup.novelAgainstHashes(batch, serve(spark, root))
}
