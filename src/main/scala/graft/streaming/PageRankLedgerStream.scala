package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

/** Streaming maintenance of the PAGERANK ROUND LEDGER — the graph-side
  * member of the incremental-maintainer family ([[DedupLedgerStream]] for
  * components, [[IndexLedgerStream]] for the inverted index,
  * [[VectorIndexStream]] for the ANN layout): a stream of newly observed
  * edges folds into persisted fixed-round PageRank scores one micro-batch
  * at a time, at frontier cost ([[graft.ext.PageRank.incrementalLedger]])
  * — a 100 TB link graph cannot re-run ten edge-wide message-passing
  * rounds per ingest.
  *
  * State layout under `root`:
  *  - `root/edges/batch=<id>/` — the edge set, a [[SegmentLedger]]
  *    (APPEND-shaped): each batch owns its directory, `_SUCCESS`-gated,
  *    replay overwrites in place. Edges are facts and
  *    multi-edges are meaningful ([[graft.ext.PageRank.pagerankInt]]'s
  *    contract), so the full graph is the UNION-ALL of committed dirs —
  *    nothing corpus-sized is ever rewritten.
  *  - `root/rounds/` — the (round, node, score) ledger, a
  *    [[VersionedLedger]] whose fold appends the batch's edges first:
  *    node-table-sized state, rewritten per batch like the CC label
  *    ledger.
  *
  * Replay safety — by IDEMPOTENCE: a re-delivered (batchId, edges)
  * overwrites its own edge dir with identical content, and the
  * frontier-bounded recompute over an unchanged graph reproduces the
  * ledger verbatim (every affected node is recomputed EXACTLY from its
  * full in-edge set, and the "old" scores it reads are already the
  * post-batch fixpoint values) — `v<batchId>` commits identical bytes.
  * Edges are never retracted; deletions would need tombstones and the
  * AggLedger (streamId, batchId) guard.
  */
object PageRankLedgerStream {

  private val LedgerSchema = StructType(Seq(
    StructField("round", IntegerType),
    StructField("node", StringType),
    StructField("score", LongType)))

  private val Edges = new SegmentLedger(
    StructType(Seq(StructField("src", StringType), StructField("dst", StringType))),
    _.select(col("src"), col("dst")))

  /** The committed edge multi-set (src, dst) across every `_SUCCESS`-gated
    * batch directory.
    */
  def edges(spark: SparkSession, root: String): DataFrame = Edges.serve(spark, s"$root/edges")

  /** Fold one batch of edges into the persisted ledger (the foreachBatch
    * body). Empty batches are a no-op. The FIRST batch bootstraps through
    * the same path: an empty prior ledger makes every endpoint "new", so
    * the frontier recompute degrades gracefully to the full fixed-round
    * run — one code path, no special case.
    */
  def maintain(newEdges: DataFrame, batchId: Long, root: String, iters: Int = 10): Unit =
    new VersionedLedger(LedgerSchema, (prior, batch) => {
      val spark = batch.sparkSession
      val dir = s"$root/edges/batch=$batchId"
      Edges.write(batch, dir)
      // read the batch back from its own committed dir so replay folds
      // byte-identical content
      graft.ext.PageRank.incrementalLedger(
        prior, edges(spark, root), Edges.read(spark, dir), iters)
    }).maintain(newEdges.select(col("src"), col("dst")), batchId, s"$root/rounds")

  /** WARM-START commit — the batch-engine → stream handoff (round-11
    * verdict item 1): fold a batch's edge dir AND an externally-computed
    * exact round ledger for the post-batch graph, without re-running the
    * rounds. A deployment that already holds the batch engine's ledger
    * (e.g. [[graft.ext.PageRank.pagerankRounds]] output, or an
    * [[graft.ext.PageRank.incrementalLedger]] update computed once and
    * shared across consumers) seeds or advances the streaming state at
    * parquet-write cost; every later [[maintain]] call continues
    * incrementally from it through the normal path.
    *
    * Contract: `ledger` MUST be exactly what [[maintain]] would have
    * committed for this batch — the fixed-round ledger over the union of
    * every committed edge dir including this one. That is not re-checked
    * here (the point is to not re-run it); it stays externally checked
    * because the SERVED scores' oracle is the full recompute
    * (`x_graph_pagerank_maintained`), and the genuine maintain() path is
    * MemoryStream-unit-pinned. Same replay idempotence as [[maintain]]:
    * a re-delivered (batchId, edges, ledger) overwrites both with
    * identical bytes.
    */
  def commitPrecomputed(newEdges: DataFrame, batchId: Long, root: String,
                        ledger: DataFrame): Unit = {
    Edges.write(newEdges.select(col("src"), col("dst")), s"$root/edges/batch=$batchId")
    VersionedState.commit(
      ledger.select(col("round"), col("node"), col("score")),
      batchId, s"$root/rounds")
  }

  /** The served scores: final-round (node, score) from the current ledger
    * version — bit-identical to `pagerankInt` over every edge ever folded.
    */
  def serve(spark: SparkSession, root: String, iters: Int = 10): DataFrame =
    VersionedState.current(spark, s"$root/rounds", LedgerSchema)
      .filter(col("round") === iters)
      .select(col("node"), col("score"))

  /** Attach the maintainer to an edge stream ((src, dst) rows). Caller
    * starts/stops the query; state lives under `root`.
    */
  def attach(edgeStream: DataFrame, root: String, checkpoint: String,
             iters: Int = 10): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    edgeStream.writeStream.option("checkpointLocation", checkpoint)
      .foreachBatch((df: DataFrame, id: Long) => maintain(df, id, root, iters))
}
