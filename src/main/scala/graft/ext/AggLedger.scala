package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incrementally maintained aggregate ledger — a materialized rollup whose
  * per-ingest cost is proportional to the BATCH, never the history (the
  * incremental-view-maintenance shape: dashboards / data-quality monitors
  * over an append-only 100 TB fact table cannot re-aggregate the table per
  * day; they fold each day's partial aggregates into a key-sized state
  * table).
  *
  * State is one row per key holding MERGEABLE partials: count, an exact
  * DECIMAL(28,10) sum (associative — fold order across batches provably
  * cannot change it, which is what makes `maintained == recompute` an
  * exact contract rather than a float-tolerance one), min, max. A new
  * batch reduces to its own per-key partials first (map-side combine
  * onto |batch keys| rows), then one keyed merge against the state table.
  * Averages and other derived forms are computed at READ time by
  * [[finalizeLedger]] — never stored, so merging stays trivially
  * associative.
  *
  * Durable form: [[ledger]] is a [[graft.streaming.VersionedLedger]]
  * (atomic pointer flip, `_SUCCESS`-gated versions), so the ledger
  * survives restarts and serves readers between ingests; [[maintain]]
  * adds the replay guard a non-idempotent fold needs.
  */
object AggLedger {

  private val Dec = DecimalType(28, 10)

  private def stateSchema(keys: Seq[String], keyTypes: Seq[DataType]): StructType =
    StructType(keys.zip(keyTypes).map { case (k, t) => StructField(k, t) } ++ Seq(
      StructField("cnt", LongType), StructField("sum_dec", Dec),
      StructField("vmin", DoubleType), StructField("vmax", DoubleType)))

  /** Per-key mergeable partials of one batch (the delta table). */
  def partial(batch: DataFrame, keys: Seq[String], valueCol: String): DataFrame =
    batch.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("cnt"),
        sum(col(valueCol).cast(Dec)).as("sum_dec"),
        min(col(valueCol).cast("double")).as("vmin"),
        max(col(valueCol).cast("double")).as("vmax"))

  /** Merge two partial tables (state ⊎ delta): one keyed aggregation —
    * every partial is mergeable, so this is exact and associative.
    */
  def merge(state: DataFrame, delta: DataFrame, keys: Seq[String]): DataFrame =
    state.unionByName(delta)
      .groupBy(keys.map(col): _*)
      .agg(sum(col("cnt")).as("cnt"),
        sum(col("sum_dec")).cast(Dec).as("sum_dec"),
        min(col("vmin")).as("vmin"),
        max(col("vmax")).as("vmax"))

  /** Read-time finalization: the served rollup. Sum/avg follow the
    * registry's engine-exact decimal conventions (`queries.Util`), so the
    * served table is SQL-oracle-checkable against a direct aggregate of
    * the full history.
    */
  def finalizeLedger(state: DataFrame): DataFrame =
    state.select(
      state.columns.filterNot(
        Set("cnt", "sum_dec", "vmin", "vmax")).map(col) ++ Seq(
        col("cnt").as("n"),
        round(col("sum_dec"), 2).cast("double").as("total"),
        col("vmin"),
        col("vmax"),
        (round(col("sum_dec"), 6).cast("double") / col("cnt")).as("vavg")): _*)

  /** The versioned ledger of per-key partials: a batch of partials
    * ([[partial]]) merges into the state, and the served form is
    * [[finalizeLedger]].
    */
  def ledger(keys: Seq[String], keyTypes: Seq[DataType]): graft.streaming.VersionedLedger =
    new graft.streaming.VersionedLedger(stateSchema(keys, keyTypes),
      (state, delta) => merge(state, delta, keys), finalizeLedger)

  /** Fold one batch into the persisted ledger (the foreachBatch body).
    * Empty batches are a no-op.
    *
    * Replay safety: Structured Streaming's foreachBatch is at-least-once —
    * a crash after [[graft.streaming.VersionedState.commit]] flips
    * `_LATEST` to v<batchId> but BEFORE the streaming checkpoint records
    * the batch makes the engine re-deliver the SAME (batchId, content).
    * Unlike the idempotent versioned ledgers (component merge, postings
    * union), sums and counts are NOT — merging the replayed partials into
    * state that already contains them would double-count. So maintain() is
    * guarded by the transaction-log rule, checked before the shared
    * [[graft.streaming.VersionedLedger.maintain]]: if a committed version
    * id ≥ batchId exists, this batch's effects are already in state and
    * the replay is a no-op.
    *
    * Batch ids are only monotone WITHIN one logical stream — a new/reset
    * streaming checkpoint restarts them at 0, and a version-only `≥` guard
    * would then SILENTLY SKIP every new batch until ids climbed past the
    * old applied version (round-9 ADVICE: silent data loss). So replay
    * detection is keyed on (streamId, batchId), Delta-`txnAppId`-style:
    * `streamId` names the logical stream ([[attach]] passes its checkpoint's
    * query id — same checkpoint = same id across restarts; a reset
    * checkpoint = a new id) and is committed atomically with each version
    * ([[graft.streaming.VersionedState.commit]]'s `txnId`). A maintain()
    * whose streamId MISMATCHES the recorded one fails loudly: neither
    * skipping (loses the new stream's batches) nor merging (double-counts
    * if the new stream re-reads old data) is safe to guess — point the new
    * checkpoint at a fresh state root, or deliberately delete the state.
    * A recorded txn of None (pre-txn state, a txn-less maintainer, or the
    * rare `_SUCCESS`-without-`_TXN` crash window) falls back to the
    * version-only test — the pre-existing contract.
    */
  def maintain(batch: DataFrame, batchId: Long, root: String,
               keys: Seq[String], valueCol: String,
               streamId: Option[String] = None,
               keepVersions: Int = 1): Unit = {
    val applied = graft.streaming.VersionedState.appliedState(batch.sparkSession, root)
    (applied.flatMap(_._2), streamId) match {
      case (Some(recorded), Some(sid)) if recorded != sid =>
        throw new IllegalStateException(
          s"AggLedger state at $root was committed by stream " +
            s"'$recorded' but maintain() arrived from stream '$sid' " +
            s"(batch $batchId). Refusing to guess between skip (data " +
            "loss) and merge (double count): point the new checkpoint " +
            "at a fresh state root, or delete this state to rebuild.")
      case _ => ()
    }
    if (!applied.exists(_._1 >= batchId))
      // a txn-LESS caller on txn-guarded state must not erase the
      // recorded stream id (the commit rewrites the pointer and prunes
      // the _TXN-carrying version dir — the guard would be permanently
      // disarmed; round-10 review): carry the recorded id forward
      ledger(keys, keys.map(k => batch.schema(k).dataType)).maintain(
        partial(batch, keys, valueCol), batchId, root,
        keepVersions, streamId.orElse(applied.flatMap(_._2)))
  }

  /** The served rollup from the persisted state. */
  def serve(spark: SparkSession, root: String, keys: Seq[String],
            keyTypes: Seq[DataType]): DataFrame =
    ledger(keys, keyTypes).serve(spark, root)

  /** The checkpoint's UNIQUE query id: Structured Streaming writes
    * `<checkpoint>/metadata` = `{"id": "<uuid>"}` when the query starts,
    * and a same-path `rm -rf` reset mints a NEW uuid on restart. That
    * uuid — not the checkpoint PATH — is the stream identity maintain()
    * needs: a path-keyed id survives an in-place reset, so restarted
    * batch ids 0,1,… would fall through to the version-only guard and be
    * silently skipped (round-10 review). Falls back to the path ONLY when
    * the metadata genuinely doesn't exist yet or doesn't parse (pre-start
    * call, foreign layout) — degraded to path-identity, never broken. A
    * TRANSIENT read error must NOT fall back: one batch committing under
    * path-identity while its neighbors commit under the uuid would arm the
    * mismatch guard against the stream's own later batches (round-10
    * ADVICE), so genuine IO failures propagate and fail the batch, which
    * the engine simply retries.
    */
  private[ext] def checkpointQueryId(spark: SparkSession, checkpoint: String): String = {
    val p = new org.apache.hadoop.fs.Path(checkpoint, "metadata")
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!f.exists(p)) checkpoint
    else {
      val in = f.open(p)
      val txt = try scala.io.Source.fromInputStream(in).mkString finally in.close()
      """"id"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(txt)
        .map(_.group(1)).getOrElse(checkpoint)
    }
  }

  /** Attach the maintainer to a fact stream: each micro-batch folds into
    * the persisted rollup. Caller starts/
    * stops the query; state lives under `root`. The stream identity for
    * replay detection (see [[maintain]]) is the checkpoint's QUERY ID,
    * resolved lazily inside foreachBatch (the metadata file exists once
    * batches flow): same checkpoint across restarts = same id; a reset —
    * whether a new path or an in-place wipe — = a new id, which
    * maintain() rejects loudly instead of silently skipping batches.
    */
  def attach(facts: DataFrame, root: String, checkpoint: String,
             keys: Seq[String], valueCol: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    facts.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch((df: DataFrame, id: Long) =>
        maintain(df, id, root, keys, valueCol,
          streamId = Some(checkpointQueryId(df.sparkSession, checkpoint))))
}
