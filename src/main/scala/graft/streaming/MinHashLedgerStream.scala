package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.{ArrayType, LongType, StringType, StructField, StructType}

import graft.ext.MinHashDedup

/** The MINHASH SIGNATURE LEDGER: the steady state
  * [[graft.ext.MinHashDedup.newAgainstCorpus]] promises but recomputes.
  * State is one `(doc_id, text, sigs)` row per document ever folded
  * ([[graft.ext.MinHashDedup.textSignaturesMd5]]), under the `h`/`k`
  * pinned by the first fold. Docs too short to shingle have no signature,
  * so an all-short batch commits nothing.
  *
  * Width: a row stores the text once plus `h` longs. The shingle set is
  * not stored, since its k-gram strings repeat each word k times (as an
  * `array<string>` column it was 90% of the ledger's bytes). The probe
  * rebuilds it from the text for band-collided rows only, so at 100 TB of
  * text the ledger is the text plus 8·h bytes a document, and a probe
  * reads it once.
  *
  * The `_params` pin carries `layout` next to `h` and `k`. A store pinned
  * without it holds the earlier `(doc_id, shingles, sigs)` rows, which the
  * declared schema would serve with `text` NULL and every batch doc novel;
  * the pin check refuses it instead.
  *
  * The stored sketch is the md5 twin
  * ([[graft.ext.MinHashDedup.signaturesMd5]]) so maintained probe == batch
  * recompute == brute-force SQL under one oracle; a deployment stores the
  * native [[graft.ext.MinHashDedup.signatures]] sketch in `sigs`, with
  * layout and probe shape unchanged. Recall stays the banding curve (b=4,
  * r=4 at h=16): a banding miss returns "novel".
  */
object MinHashLedgerStream {

  private val Schema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("sigs", ArrayType(LongType, containsNull = true))))

  /** The ledger at sketch parameters `h`, `k`. */
  def ledger(h: Int = 16, k: Int = 3): SegmentLedger = new SegmentLedger(Schema,
    MinHashDedup.textSignaturesMd5(_, h = h, k = k),
    params = Seq("h" -> h.toLong, "k" -> k.toLong, "layout" -> 2L))

  def maintain(docs: DataFrame, batchId: Long, root: String,
               h: Int = 16, k: Int = 3): Unit = ledger(h, k).maintain(docs, batchId, root)

  def serve(spark: SparkSession, root: String): DataFrame = ledger().serve(spark, root)

  def compact(spark: SparkSession, root: String): Option[Long] = ledger().compact(spark, root)

  def attach(docs: DataFrame, root: String, checkpoint: String,
             h: Int = 16, k: Int = 3): DataStreamWriter[Row] =
    ledger(h, k).attach(docs, root, checkpoint)

  /** Which docs of a NEW batch near-duplicate nothing ever folded? The
    * batch is sketched once and broadcast as the build side; the ledger is
    * read once, narrow (`text` and `sigs`), its band keys probing the
    * batch's; the shingle sets of band-collided rows only are rebuilt
    * from `text` for the exact Jaccard verify
    * ([[graft.ext.MinHashDedup.novelAgainstSigsMd5]]) — bit-identical to
    * [[graft.ext.MinHashDedup.newAgainstCorpusMd5]] over every document
    * folded. Batch docs too short to shingle come back novel. A probe whose
    * `h`/`k` differ from the pin, or a store in another row layout, fails
    * loudly: banding a 16-slot signature at h=32 would silently
    * mis-answer.
    *
    * The novel-id frame comes back pinned (persisted and counted); the
    * caller owns it and releases it. The probe persists, broadcasts and
    * shuffles nothing ledger-sized and leaves nothing else cached.
    */
  def probe(spark: SparkSession, root: String, batch: DataFrame,
            minJaccard: Double = 0.5, h: Int = 16, bands: Int = 4,
            k: Int = 3): DataFrame = {
    val mh = ledger(h, k)
    mh.validate(spark, root)
    MinHashDedup.novelAgainstSigsMd5(batch.select(col("doc_id")),
      MinHashDedup.signaturesMd5(batch, h = h, k = k),
      mh.serve(spark, root).select(col("text"), col("sigs")), minJaccard, h, bands,
      corpusSets = MinHashDedup.shinglesOf(col("text"), k))
  }
}
