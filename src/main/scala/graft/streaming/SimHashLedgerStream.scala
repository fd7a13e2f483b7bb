package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The SIMHASH FINGERPRINT LEDGER: the hamming member of the
  * maintained-dedup family. State is `(doc_id, simhash)`, 16 bytes per
  * document — ~GBs at 100 TB corpus scale. NULL-text docs have no
  * fingerprint, so an all-NULL batch commits nothing. No parameter pin:
  * the fingerprint is always one 64-bit word and `maxDist` is a
  * probe-side question.
  *
  * The stored sketch is the md5 twin ([[graft.ext.SimHash.signaturesMd5]])
  * so maintained probe == batch recompute == brute-force hamming SQL; a
  * deployment stores the native [[graft.ext.SimHash.signatures]] output
  * with layout and probe unchanged.
  */
object SimHashLedgerStream extends SegmentLedger(
  StructType(Seq(StructField("doc_id", LongType), StructField("simhash", LongType))),
  graft.ext.SimHash.signaturesMd5(_)) {

  /** Which docs of a NEW batch are within hamming ≤ `maxDist` of NOTHING
    * ever folded: the batch sketch + ONE (chunk_id, chunk_val)-keyed
    * pigeonhole join ([[graft.ext.SimHash.novelAgainstSigs]], exact for
    * `maxDist` ≤ 3) — bit-identical to
    * [[graft.ext.SimHash.newAgainstCorpusMd5]]. NULL-text batch docs come
    * back novel. The novel-id frame comes back persisted and counted; the
    * caller owns it.
    */
  def probe(spark: SparkSession, root: String, batch: DataFrame,
            maxDist: Int = 3): DataFrame =
    graft.ext.SimHash.novelAgainstSigs(batch.select(col("doc_id")),
      graft.ext.SimHash.signaturesMd5(batch), serve(spark, root), maxDist)
}
