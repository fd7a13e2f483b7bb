package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StringType, StructField, StructType}

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
  * The state is exactly the [[IndexLedgerStream]] shape with terms =
  * word n-grams, so the merge (per-term posting-set union — associative,
  * commutative, idempotent) and the replay-safety argument are SHARED,
  * not re-implemented: a re-delivered batch recomputes identical
  * postings, and documents are facts (doc d contains n-gram g), never
  * retractions. State rides [[VersionedState]] (atomic pointer flip,
  * `_SUCCESS`-gated versions).
  *
  * State width at 100 TB: n-gram strings are long keys; a deployment
  * keys this ledger on `md5(ng)` (the MinHash-twin discipline — 16
  * bytes, collision-safe at any realistic corpus size) and keeps raw
  * n-grams only in the probe's exact-verify join. The fixture keys on
  * the raw n-gram so the contract stays bit-checkable against the batch
  * operator's oracle.
  */
object DecontamLedgerStream {

  private val StateSchema = StructType(Seq(
    StructField("term", StringType),
    StructField("postings", ArrayType(LongType, containsNull = false))))

  /** One batch's delta: distinct (n-gram, doc) pairs reduced to sorted
    * posting arrays — batch-sized, map-side combined.
    */
  def partial(docs: DataFrame, n: Int, idCol: String = "doc_id",
              textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        explode(array_distinct(
          graft.ext.Decontaminate.ngrams(textCol, n))).as("term"))
      .groupBy(col("term"))
      .agg(array_sort(collect_set(col("doc_id"))).as("postings"))

  /** Fold one batch of TRAINING documents into the ledger (the
    * foreachBatch body); empty batches are a no-op. The merge is
    * [[IndexLedgerStream.merge]] — one term-keyed aggregation.
    */
  def maintain(docs: DataFrame, batchId: Long, root: String, n: Int = 3,
               idCol: String = "doc_id", textCol: String = "text"): Unit = {
    val spark = docs.sparkSession
    // the SegmentStore pin discipline: validate before any work, pin after
    // the first successful commit
    SegmentStore.validateParams(spark, root, Seq("n" -> n.toLong))
    // pinned so the batch's upstream plan runs once across the emptiness
    // gate and the merge job (the PageRankLedgerStream.maintain pattern);
    // micro-batch-sized, dropped before return
    val pinned = docs.select(col(idCol), col(textCol)).persist()
    try {
      if (!pinned.isEmpty) {
        val state = VersionedState.current(spark, root, StateSchema)
        VersionedState.commit(
          IndexLedgerStream.merge(state, partial(pinned, n, idCol, textCol)),
          batchId, root)
        SegmentStore.pinParams(spark, root, Seq("n" -> n.toLong))
      }
    } finally { pinned.unpersist(blocking = false): Unit }
  }

  /** The eval-side probe: (doc_id, n_overlap) for every maintained
    * training doc sharing ≥ 1 distinct n-gram with `evalSet` —
    * bit-identical to `Decontaminate.contaminated(corpus, evalSet, n)`
    * over every document ever folded (the maintained == recompute
    * contract, checked by the registry oracle). Cost: the benchmark
    * explode + ONE keyed join; postings explode only for MATCHED
    * n-grams.
    */
  def probe(spark: SparkSession, root: String, evalSet: DataFrame, n: Int = 3,
            textCol: String = "text"): DataFrame = {
    SegmentStore.validateParams(spark, root, Seq("n" -> n.toLong))
    val eg = evalSet
      .select(explode(array_distinct(
        graft.ext.Decontaminate.ngrams(textCol, n))).as("term"))
      .distinct()
    VersionedState.current(spark, root, StateSchema)
      .join(eg, Seq("term"), "left_semi")
      .select(explode(col("postings")).as("doc_id"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_overlap"))
  }

  /** Attach the maintainer to a training-document stream. */
  def attach(docs: DataFrame, root: String, checkpoint: String,
             n: Int = 3): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch((df: DataFrame, id: Long) => maintain(df, id, root, n))
}
