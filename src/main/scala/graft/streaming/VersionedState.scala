package graft.streaming

import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.StructType

/** Versioned parquet state with an atomic `_LATEST` pointer — the
  * substrate of [[VersionedLedger]], the whole-version ledgers.
  *
  * Layout: each commit writes a COMPLETE new table under `root/v<id>/`,
  * then flips `root/_LATEST` to that version via write-temp + ONE
  * overwriting rename (`FileContext.rename(OVERWRITE)` — atomic on
  * HDFS/local), so a kill mid-write leaves the previous version intact and
  * replaying a batch id overwrites its own dir rather than forking state.
  * Readers resolve the pointer first; if the pointer is ABSENT but
  * committed version dirs exist (a crash in a non-atomic flip on a store
  * without overwriting rename), they recover from the highest version
  * instead of silently serving empty state. Superseded versions are pruned
  * after the flip (best-effort; a leftover dir is unreferenced, never
  * wrong).
  */
object VersionedState {

  private def fs(spark: SparkSession, root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Version dirs under `root`, highest id first. */
  private def versionDirs(f: FileSystem, root: String): Seq[Path] = {
    val rp = new Path(root)
    if (!f.exists(rp)) Seq.empty
    else f.listStatus(rp).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.matches("v\\d+"))
      .sortBy(-_.getPath.getName.drop(1).toLong)
      .map(_.getPath)
  }

  /** Committed version dirs, highest id first: a dir without Spark's
    * `_SUCCESS` marker is a crash mid-write, and its partial contents are
    * never state.
    */
  private def committedDirs(f: FileSystem, root: String): Seq[Path] =
    versionDirs(f, root).filter(p => f.exists(new Path(p, "_SUCCESS")))

  private def readFile(f: FileSystem, p: Path): String = {
    val in = f.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  /** The version readers serve and the transaction id that committed it:
    * the pointer target when `_LATEST` exists, else the newest committed
    * version (see the pointer-recovery contract in the class doc) with the
    * id mirrored in its `_TXN` file. Pointer content: first line `v<id>`,
    * optional second line the transaction id (see [[commit]]'s `txnId`).
    */
  private def resolve(f: FileSystem, root: String): Option[(Path, Option[String])] = {
    val ptr = new Path(root, "_LATEST")
    if (f.exists(ptr)) {
      val lines = readFile(f, ptr).split("\n").toSeq.map(_.trim)
      Some((new Path(root, lines.head), lines.drop(1).find(_.nonEmpty)))
    } else committedDirs(f, root).headOption.map { p =>
      val m = new Path(p, "_TXN")
      (p, Some(m).filter(f.exists).map(readFile(f, _).trim).filter(_.nonEmpty))
    }
  }

  /** The current state table read with the declared `schema` (no
    * footer-inference job), or an empty frame of it before the first
    * commit.
    */
  def current(spark: SparkSession, root: String, schema: StructType): DataFrame =
    resolve(fs(spark, root), root) match {
      case Some((p, _)) => spark.read.schema(schema).parquet(p.toString)
      case None => spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    }

  /** TIME-TRAVEL read: the state exactly as of version `batchId`, read
    * with the declared `schema` — the reproducibility hook ("rebuild the
    * mixture the trainer saw at batch N") the versioned layout gets for
    * free, provided the version is still retained (`keepVersions` at
    * commit time is the retention knob). A missing or pruned version FAILS
    * LOUDLY with the retained ids — state reads must never silently
    * substitute a different version — and a version dir without
    * `_SUCCESS` (crash mid-write) is treated as absent.
    */
  def atVersion(spark: SparkSession, root: String, batchId: Long,
                schema: StructType): DataFrame = {
    val f = fs(spark, root)
    val retained = committedDirs(f, root)
    retained.find(_.getName == s"v$batchId") match {
      case Some(p) => spark.read.schema(schema).parquet(p.toString)
      case None => throw new NoSuchElementException(
        s"version v$batchId not retained under $root (pruned, never " +
          s"committed, or partial); retained: " + retained.map(_.getName).mkString(", "))
    }
  }

  /** Write `updated` as version `batchId` and flip the pointer to it.
    * `keepVersions` (≥ 1) retains that many NEWEST version dirs after the
    * flip — retained history is what [[atVersion]] time-travels to; the
    * default keeps only the pointer target (the ledger maintainers'
    * original behavior).
    *
    * `txnId` is the committing STREAM's identity (Delta `txnAppId` shape:
    * the caller picks a stable id — [[graft.ext.AggLedger.attach]] uses
    * its checkpoint's query id). It rides the pointer file's second line (the
    * same single atomic rename — no second commit point) and is mirrored
    * as a `_TXN` file INSIDE the version dir (written before the flip) so
    * the no-pointer crash-recovery path can recover it too. Non-idempotent
    * maintainers key replay detection on (txnId, batchId), not batchId
    * alone: batch ids restart at 0 when a checkpoint is reset, and a
    * version-only `≥` guard would then SILENTLY SKIP every new batch
    * until ids climb past the old applied version (round-9 ADVICE).
    */
  def commit(updated: DataFrame, batchId: Long, root: String,
             keepVersions: Int = 1, txnId: Option[String] = None): Unit = {
    require(keepVersions >= 1, s"keepVersions must be >= 1, got $keepVersions")
    require(txnId.forall(t => t.nonEmpty && !t.contains("\n")),
      s"txnId must be non-empty and newline-free, got $txnId")
    val spark = updated.sparkSession
    val version = s"v$batchId"
    // REPLAY-commit safety (round 16): a maintainer's update plan reads
    // the CURRENT version of this same root, and on a replayed batch id
    // the version being overwritten can be exactly the version being
    // read. Spark materializes exchange/broadcast stages before the write
    // command deletes the dir, so most such plans survive by
    // stage-boundary luck — but any self-scan the optimizer fuses into
    // the final write stage (e.g. a remap join collapsed to a projection
    // when the batch's merge set is empty) reads files the overwrite just
    // deleted and fails with FAILED_READ_FILE. When the target version
    // dir already exists (the only case a delete can race a read of this
    // root), the new state is eagerly materialized BEFORE the dir is
    // touched and the blocks freed as soon as the files land — replay
    // safety becomes structural instead of plan-shape-dependent, and the
    // common ascending-version commit pays nothing.
    val f = fs(spark, root)
    val willOverwrite = f.exists(new Path(root, version))
    val snap = if (willOverwrite) updated.localCheckpoint(true) else updated
    try snap.write.mode("overwrite").parquet(s"$root/$version")
    finally if (willOverwrite) graft.Materialize.release(snap)
    txnId.foreach { t =>
      val marker = new Path(s"$root/$version", "_TXN")
      val mo = f.create(marker, true)
      try mo.write(t.getBytes("UTF-8")) finally mo.close()
    }
    val tmp = new Path(root, s"_LATEST.tmp$batchId")
    val ptr = new Path(root, "_LATEST")
    val out = f.create(tmp, true)
    try out.write((version + txnId.fold("")("\n" + _)).getBytes("UTF-8"))
    finally out.close()
    // commit point: ONE overwriting rename onto the pointer.
    // delete-then-rename would open a window where a crash leaves NO
    // pointer; current()'s highest-version fallback covers even that on
    // stores lacking overwrite-rename, but here the window doesn't exist.
    FileContext.getFileContext(f.getUri, spark.sparkContext.hadoopConfiguration)
      .rename(f.makeQualified(tmp), f.makeQualified(ptr), Options.Rename.OVERWRITE)
    // prune superseded versions (best-effort, AFTER the flip; never
    // touches the version the pointer now references). Retention keeps
    // the newest `keepVersions` — the pointer target is always newest-or-
    // equal by batch id, so it is always retained.
    versionDirs(f, root).drop(keepVersions).foreach { p =>
      if (p.getName != version) f.delete(p, true)
    }
  }

  /** Highest batch id whose effects are DURABLY APPLIED, with the
    * transaction id that committed it (None for a txn-less committer) —
    * the replay test for non-idempotent maintainers (AggLedger). A bare
    * `v<id>` dir without `_SUCCESS` is a crash mid-write: its batch's
    * effects are NOT in state, so counting it would make a maintainer
    * skip a genuine replay and lose the batch.
    */
  def appliedState(spark: SparkSession, root: String): Option[(Long, Option[String])] =
    resolve(fs(spark, root), root).map { case (p, txn) => (p.getName.drop(1).toLong, txn) }
}

/** One whole-version ledger on the [[VersionedState]] layout: the
  * maintain/serve/attach the five versioned ledgers share — the
  * counterpart of [[SegmentLedger]] for state that is rewritten whole per
  * commit (component labels, postings, rollups, PageRank rounds). A
  * ledger without per-call parameters IS one (`object DedupLedgerStream
  * extends VersionedLedger(...)`); one whose state depends on parameters
  * builds one per call (`AggLedger.ledger(keys, keyTypes)`).
  *
  * Replay safety comes from the fold: re-folding a batch whose effects are
  * already in the state must reproduce that state (a set union, connected
  * components, a frontier recompute over an unchanged graph), so a
  * re-delivered batch id overwrites its own version with the same content.
  * A fold that is not idempotent (sums) guards replays itself before
  * calling [[maintain]] ([[graft.ext.AggLedger.maintain]]).
  *
  * @param schema the state columns, as `fold` produces them — every read
  *               uses this declared schema (no footer-inference job), and
  *               an empty store serves an empty frame of it
  * @param fold   `(state, batch) => next state`
  * @param finish the served form of the state (read-time finalization)
  * @param params the `_params` pin ([[SegmentStore.validateParams]]);
  *               empty writes no pin
  */
class VersionedLedger(val schema: StructType,
                      val fold: (DataFrame, DataFrame) => DataFrame,
                      val finish: DataFrame => DataFrame = identity,
                      val params: Seq[(String, Long)] = Nil) {

  /** Fail loudly if `root` is pinned to other parameters. */
  def validate(spark: SparkSession, root: String): Unit =
    if (params.nonEmpty) SegmentStore.validateParams(spark, root, params)

  /** Fold one batch (the foreachBatch body) into a new version `batchId`.
    * An empty batch commits nothing. `keepVersions` and `txnId` are
    * [[VersionedState.commit]]'s.
    */
  def maintain(batch: DataFrame, batchId: Long, root: String,
               keepVersions: Int = 1, txnId: Option[String] = None): Unit = {
    val spark = batch.sparkSession
    validate(spark, root)
    // pinned so the batch's upstream plan runs once across the emptiness
    // gate and the fold
    graft.Materialize.using(batch) { pinned =>
      if (!pinned.isEmpty) {
        val updated = fold(state(spark, root), pinned)
        try VersionedState.commit(updated, batchId, root, keepVersions, txnId)
        finally graft.Materialize.release(updated)
        if (params.nonEmpty) SegmentStore.pinParams(spark, root, params)
      }
    }
  }

  /** The current state, as `fold` sees it. */
  def state(spark: SparkSession, root: String): DataFrame =
    VersionedState.current(spark, root, schema)

  /** The served ledger: the finished current state. */
  def serve(spark: SparkSession, root: String): DataFrame = finish(state(spark, root))

  /** The served ledger as of a retained version ([[VersionedState.atVersion]]). */
  def atVersion(spark: SparkSession, root: String, batchId: Long): DataFrame =
    finish(VersionedState.atVersion(spark, root, batchId, schema))

  /** Attach [[maintain]] to a stream; the caller starts and stops it. */
  def attach(batches: DataFrame, root: String, checkpoint: String): DataStreamWriter[Row] =
    batches.writeStream.option("checkpointLocation", checkpoint)
      .foreachBatch((df: DataFrame, id: Long) => maintain(df, id, root))
}
