package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.{ArrayType, LongType, StringType, StructField, StructType}

/** The MINHASH SIGNATURE LEDGER: the steady state
  * [[graft.ext.MinHashDedup.newAgainstCorpus]] promises but recomputes.
  * State is one `(doc_id, shingles, sigs)` row per document ever folded,
  * under the `h`/`k` pinned by the first fold. Docs too short to shingle
  * have no signature, so an all-short batch commits nothing.
  *
  * The stored sketch is the md5 twin
  * ([[graft.ext.MinHashDedup.signaturesMd5]]) so maintained probe == batch
  * recompute == brute-force SQL under one oracle; a deployment stores the
  * native [[graft.ext.MinHashDedup.signatures]] output with layout and
  * probe shape unchanged. Recall stays the banding curve (b=4, r=4 at
  * h=16): a banding miss returns "novel".
  */
object MinHashLedgerStream {

  private val Schema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("shingles", ArrayType(StringType, containsNull = true)),
    StructField("sigs", ArrayType(LongType, containsNull = true))))

  /** The ledger at sketch parameters `h`, `k`. */
  def ledger(h: Int = 16, k: Int = 3): SegmentLedger = new SegmentLedger(Schema,
    graft.ext.MinHashDedup.signaturesMd5(_, h = h, k = k),
    params = Seq("h" -> h.toLong, "k" -> k.toLong))

  def maintain(docs: DataFrame, batchId: Long, root: String,
               h: Int = 16, k: Int = 3): Unit = ledger(h, k).maintain(docs, batchId, root)

  def serve(spark: SparkSession, root: String): DataFrame = ledger().serve(spark, root)

  def compact(spark: SparkSession, root: String): Option[Long] = ledger().compact(spark, root)

  def attach(docs: DataFrame, root: String, checkpoint: String,
             h: Int = 16, k: Int = 3): DataStreamWriter[Row] =
    ledger(h, k).attach(docs, root, checkpoint)

  /** Which docs of a NEW batch near-duplicate nothing ever folded? Sketch
    * the batch, ONE `(band_key, id)` join against the served signatures,
    * exact Jaccard on band-collided candidates only
    * ([[graft.ext.MinHashDedup.novelAgainstSigsMd5]]) — bit-identical to
    * [[graft.ext.MinHashDedup.newAgainstCorpusMd5]] over every document
    * folded. Batch docs too short to shingle come back novel. A probe whose
    * `h`/`k` differ from the pin fails loudly: banding a 16-slot signature
    * at h=32 would silently mis-answer.
    *
    * The novel-id frame comes back persisted and counted, with the probe's
    * own sig frames already released; the caller owns it.
    */
  def probe(spark: SparkSession, root: String, batch: DataFrame,
            minJaccard: Double = 0.5, h: Int = 16, bands: Int = 4,
            k: Int = 3): DataFrame = {
    ledger(h, k).validate(spark, root)
    graft.ext.MinHashDedup.novelAgainstSigsMd5(batch.select(col("doc_id")),
      graft.ext.MinHashDedup.signaturesMd5(batch, h = h, k = k),
      serve(spark, root), minJaccard, h, bands)
  }
}
