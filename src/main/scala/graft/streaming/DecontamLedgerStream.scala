package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming maintenance of the DECONTAMINATION LEDGER — n-gram postings
  * of the TRAINING corpus, maintained per ingest so that BOTH directions
  * of the benchmark-leak check are incremental:
  *
  *  - corpus ingest: fold only the batch's n-grams into the ledger (one
  *    batch-vocab-sized merge — [[graft.ext.Decontaminate.contaminated]]
  *    re-explodes the full corpus per eval-set change, which a 100 TB
  *    pipeline cannot pay every time a benchmark version bumps);
  *  - eval-set change: a PROBE — explode the benchmark (always orders of
  *    magnitude below the corpus), one n-gram-keyed join against the
  *    ledger, and only MATCHED postings ever explode. No corpus pass at
  *    all.
  *
  * The state is [[Postings]] over word n-grams of the `(doc_id, text)`
  * documents, so the merge and its replay-safety argument are
  * [[IndexLedgerStream]]'s; the n-gram order `n` is pinned on the first
  * fold ([[VersionedLedger]]'s `params`).
  *
  * State width at 100 TB: n-gram strings are long keys; a deployment
  * keys this ledger on `md5(ng)` (the MinHash-twin discipline — 16
  * bytes, collision-safe at any realistic corpus size) and keeps raw
  * n-grams only in the probe's exact-verify join. The fixture keys on
  * the raw n-gram so the contract stays bit-checkable against the batch
  * operator's oracle.
  */
object DecontamLedgerStream {

  private def grams(n: Int) = graft.ext.Decontaminate.ngrams("text", n)

  /** The ledger of word `n`-gram postings. */
  def ledger(n: Int = 3): VersionedLedger =
    new VersionedLedger(Postings.Schema, Postings.fold(grams(n)), params = Seq("n" -> n.toLong))

  /** Fold one batch of TRAINING documents into the ledger (the
    * foreachBatch body); empty batches are a no-op.
    */
  def maintain(docs: DataFrame, batchId: Long, root: String, n: Int = 3): Unit =
    ledger(n).maintain(docs, batchId, root)

  /** The eval-side probe: (doc_id, n_overlap) for every maintained
    * training doc sharing ≥ 1 distinct n-gram with `evalSet` —
    * bit-identical to `Decontaminate.contaminated(corpus, evalSet, n)`
    * over every document ever folded (the maintained == recompute
    * contract, checked by the registry oracle). Cost: the benchmark
    * explode + ONE keyed join; postings explode only for MATCHED
    * n-grams.
    */
  def probe(spark: SparkSession, root: String, evalSet: DataFrame, n: Int = 3): DataFrame = {
    val l = ledger(n)
    l.validate(spark, root)
    val eg = evalSet.select(explode(array_distinct(grams(n))).as("term")).distinct()
    l.state(spark, root)
      .join(eg, Seq("term"), "left_semi")
      .select(explode(col("postings")).as("doc_id"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_overlap"))
  }

  /** Attach the maintainer to a training-document stream. */
  def attach(docs: DataFrame, root: String, checkpoint: String,
             n: Int = 3): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    ledger(n).attach(docs, root, checkpoint)
}
