package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** The CDC CHUNK STORE: the incremental form of [[graft.ext.Cdc]]'s
  * storage dedup — [[ExactDedupLedgerStream]]'s contract at CHUNK
  * granularity, where dedup bites across DISTINCT documents that share
  * boilerplate. State is the distinct `(xxhash64(chunk), chunk)` rows of a
  * batch; the chunk text makes the probe bit-identical to the batch
  * recompute (a deployment bounds state width with the md5-surrogate
  * trade). The chunking window/base/divisor are pinned: state chunked
  * under other parameters would misreport novelty for every later batch.
  */
object CdcLedgerStream extends SegmentLedger(
  StructType(Seq(StructField("h", LongType, nullable = false), StructField("t", StringType))),
  graft.ext.Cdc.chunks(_)
    .select(xxhash64(col("chunk_text")).as("h"), col("chunk_text").as("t")).distinct(),
  merge = _.distinct(),
  params = Seq("window" -> graft.ext.Cdc.Window.toLong,
    "base" -> graft.ext.Cdc.Base, "divisor" -> graft.ext.Cdc.Divisor)) {

  /** Per-document ingest report against the maintained store: total
    * chunks, chunks whose content the store lacks, and the characters of
    * those novel OCCURRENCES. Novelty is per occurrence relative to the
    * PRE-BATCH state: an absent chunk counts once per appearance, so each
    * document's numbers do not depend on which other batch members share
    * its chunks (the batch-deduped store delta is a follow-up aggregate,
    * deliberately not this report). Cost: chunk the batch + one 8-byte-keyed
    * anti/semi join pair, collision candidates re-verified by chunk text.
    * Documents with no chunks are absent, as in the batch operator.
    */
  def probe(spark: SparkSession, root: String, batch: DataFrame): DataFrame = {
    validate(spark, root)
    val ch = graft.ext.Cdc.chunks(batch)
      .select(col("doc_id"), col("chunk_len"),
        col("chunk_text").as("t"), xxhash64(col("chunk_text")).as("h"))
    val state = serve(spark, root)
    val noHash = ch.join(state.select(col("h")), Seq("h"), "left_anti")
    val collisionOnly = ch.join(state.select(col("h")), Seq("h"), "left_semi")
      .join(state, Seq("h", "t"), "left_anti")
    val novel = noHash.unionByName(collisionOnly)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("nn"), sum(col("chunk_len")).as("nc"))
    ch.groupBy(col("doc_id")).agg(count(lit(1)).as("n_chunks"))
      .join(novel, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"),
        coalesce(col("nn"), lit(0L)).as("n_novel_chunks"),
        coalesce(col("nc"), lit(0L)).cast("long").as("novel_chars"))
  }
}
