package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StringType, StructField, StructType}

/** Streaming maintenance of the INVERTED INDEX — the retrieval-side
  * member of the versioned-ledger family: a stream of newly ingested
  * `(doc_id, text)` documents folds into a persisted (term, postings)
  * table one micro-batch at a time, at batch cost — a 100 TB serving
  * index cannot re-explode its whole corpus per ingest.
  *
  * The state and its fold are [[Postings]] over the text's words. df is
  * `size(postings)` — derived at read time, never stored (the AggLedger
  * finalize discipline).
  */
object IndexLedgerStream extends VersionedLedger(
  Postings.Schema, Postings.fold(split(col("text"), " ")),
  // the batch entry's shape: (term, df, postings as a comma-joined
  // sorted string)
  _.select(col("term"), size(col("postings")).cast("long").as("df"),
    array_join(col("postings"), ",").as("postings")))

/** The postings state both text ledgers keep ([[IndexLedgerStream]] over
  * words, [[DecontamLedgerStream]] over word n-grams): one row per term
  * with its sorted distinct doc ids.
  *
  * Per batch: explode the BATCH's documents to distinct (term, doc_id)
  * pairs, reduce to per-term posting arrays (map-side combined onto
  * |batch vocab| rows), then ONE term-keyed merge against the state.
  *
  * Replay safety — by IDEMPOTENCE, not a guard: the merge is per-term SET
  * UNION of doc ids, and `union(state, B ∪ B) = union(state, B)` —
  * re-folding an already-applied batch recomputes identical postings. A
  * reset checkpoint replaying old documents converges to the same
  * fixpoint, so no transaction id is needed. The one contract this leans
  * on: documents are FACTS (doc d contains term t), never retractions —
  * deletions need a tombstone column and a non-idempotent maintainer,
  * which would start from [[graft.ext.AggLedger.maintain]]'s (streamId,
  * batchId) guard.
  */
private[streaming] object Postings {

  val Schema: StructType = StructType(Seq(
    StructField("term", StringType),
    StructField("postings", ArrayType(LongType, containsNull = false))))

  /** Per-term sorted distinct postings of one batch (the delta table). */
  def partial(docs: DataFrame, terms: Column): DataFrame =
    docs.select(col("doc_id"), explode(array_distinct(terms)).as("term"))
      .groupBy(col("term"))
      .agg(array_sort(collect_set(col("doc_id"))).as("postings"))

  /** Merge state ⊎ delta: one term-keyed aggregation; per-term set union
    * keeps postings sorted + distinct (associative, commutative,
    * idempotent).
    */
  def merge(state: DataFrame, delta: DataFrame): DataFrame =
    state.unionByName(delta)
      .groupBy(col("term"))
      .agg(array_sort(array_distinct(flatten(collect_list(col("postings")))))
        .as("postings"))

  /** The fold of a batch's `terms` postings into the state. */
  def fold(terms: Column): (DataFrame, DataFrame) => DataFrame =
    (state, docs) => merge(state, partial(docs, terms))
}
