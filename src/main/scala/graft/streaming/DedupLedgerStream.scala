package graft.streaming

import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Streaming maintenance of the near-dup component ledger — the
  * operational loop [[graft.ext.Components.incrementalComponents]] exists
  * for: a stream of newly discovered near-dup EDGES (`doc_a`, `doc_b`,
  * from the incremental dedup joins over each ingest batch) folds into a
  * persisted (doc_id, component) ledger, one micro-batch at a time, at
  * batch cost. State, commit and crash discipline are
  * [[VersionedLedger]]'s.
  *
  * Replay safety — by IDEMPOTENCE, not a guard (contrast
  * [[graft.ext.AggLedger.maintain]], which needs the (streamId, batchId)
  * transaction test because sums double-count): the component merge is
  * a set union followed by connected components, and
  * `cc(ledger ∪ E ∪ E) = cc(ledger ∪ E)` — re-folding an already-applied
  * edge batch recomputes the SAME labels and overwrites version
  * `v<batchId>` with identical content. At-least-once redelivery, a
  * reset checkpoint replaying old edges, even a different stream
  * delivering overlapping edges all converge to the same fixpoint, so
  * no transaction id is needed. The one contract this leans on: edges
  * are FACTS (doc a ~ doc b), never retractions — this maintainer has
  * no delete path.
  *
  * At 100 TB the per-batch cost is the incremental contract: CC over the
  * batch-sized contracted graph + one ledger-wide keyed remap — the full
  * rewrite of the ledger per batch is the simple-and-correct form at any
  * ledger size that fits a table write (a deployment beyond that swaps
  * the write for a partitioned upsert keyed by component; the update
  * computation is unchanged).
  */
object DedupLedgerStream extends VersionedLedger(
  StructType(Seq(StructField("doc_id", LongType), StructField("component", LongType))),
  (ledger, edges) => graft.ext.Components.incrementalComponents(ledger, edges))
