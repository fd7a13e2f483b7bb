package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Versioned parquet state with an atomic `_LATEST` pointer — the shared
  * substrate of the incremental maintainers ([[DedupLedgerStream]], the
  * aggregate ledger in [[graft.ext.AggLedger]]).
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
    new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Committed version dirs under `root`, highest id first. */
  private def versionDirs(f: org.apache.hadoop.fs.FileSystem,
                          root: String): Seq[org.apache.hadoop.fs.Path] = {
    val rp = new org.apache.hadoop.fs.Path(root)
    if (!f.exists(rp)) Seq.empty
    else f.listStatus(rp).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.matches("v\\d+"))
      .sortBy(-_.getPath.getName.drop(1).toLong)
      .map(_.getPath)
  }

  /** Pointer file content: first line `v<id>`, optional second line the
    * committing transaction id (see [[commit]]'s `txnId`). Reading just
    * the first line keeps pre-txn pointer files (one line) readable.
    */
  private def readPointer(f: org.apache.hadoop.fs.FileSystem,
                          ptr: org.apache.hadoop.fs.Path): (String, Option[String]) = {
    val in = f.open(ptr)
    val lines = try scala.io.Source.fromInputStream(in).mkString.split("\n").toSeq
      finally in.close()
    (lines.head.trim, lines.drop(1).map(_.trim).find(_.nonEmpty))
  }

  /** The current state table, or an empty frame of `schema` before the
    * first commit (see the pointer-recovery contract in the class doc).
    */
  def current(spark: SparkSession, root: String, schema: StructType): DataFrame = {
    val f = fs(spark, root)
    val ptr = new org.apache.hadoop.fs.Path(root, "_LATEST")
    if (f.exists(ptr)) {
      val v = readPointer(f, ptr)._1
      spark.read.parquet(s"$root/$v")
    } else versionDirs(f, root)
      // a dir without Spark's _SUCCESS marker is a crash mid-write — its
      // contents are partial and must never be served as state
      .find(p => f.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS"))) match {
      case Some(latest) => spark.read.parquet(latest.toString)
      case _ => spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
    }
  }

  /** TIME-TRAVEL read: the state exactly as of version `batchId` — the
    * reproducibility hook ("rebuild the mixture the trainer saw at batch
    * N") the versioned layout gets for free, provided the version is
    * still retained (`keepVersions` at commit time is the retention
    * knob). A missing or pruned version FAILS LOUDLY with the retained
    * ids — state reads must never silently substitute a different
    * version — and a version dir without `_SUCCESS` (crash mid-write) is
    * treated as absent for the same reason [[current]] skips it.
    */
  def atVersion(spark: SparkSession, root: String, batchId: Long): org.apache.spark.sql.DataFrame = {
    val f = fs(spark, root)
    val p = new org.apache.hadoop.fs.Path(root, s"v$batchId")
    val committed = f.exists(p) &&
      f.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS"))
    if (!committed)
      throw new NoSuchElementException(
        s"version v$batchId not retained under $root (pruned, never " +
          s"committed, or partial); retained: " +
          versionDirs(f, root)
            .filter(d => f.exists(new org.apache.hadoop.fs.Path(d, "_SUCCESS")))
            .map(_.getName).mkString(", "))
    spark.read.parquet(p.toString)
  }

  /** Write `updated` as version `batchId` and flip the pointer to it.
    * `keepVersions` (≥ 1) retains that many NEWEST version dirs after the
    * flip — retained history is what [[atVersion]] time-travels to; the
    * default keeps only the pointer target (the ledger maintainers'
    * original behavior).
    *
    * `txnId` is the committing STREAM's identity (Delta `txnAppId` shape:
    * the caller picks a stable id — [[graft.ext.AggLedger.attach]] uses
    * its checkpoint path). It rides the pointer file's second line (the
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
    val willOverwrite = f.exists(new org.apache.hadoop.fs.Path(root, version))
    val snap = if (willOverwrite) updated.localCheckpoint(true) else updated
    try snap.write.mode("overwrite").parquet(s"$root/$version")
    finally if (willOverwrite) graft.Materialize.release(snap)
    txnId.foreach { t =>
      val marker = new org.apache.hadoop.fs.Path(s"$root/$version", "_TXN")
      val mo = f.create(marker, true)
      try mo.write(t.getBytes("UTF-8")) finally mo.close()
    }
    val tmp = new org.apache.hadoop.fs.Path(root, s"_LATEST.tmp$batchId")
    val ptr = new org.apache.hadoop.fs.Path(root, "_LATEST")
    val out = f.create(tmp, true)
    try out.write((version + txnId.fold("")("\n" + _)).getBytes("UTF-8"))
    finally out.close()
    // commit point: ONE overwriting rename onto the pointer.
    // delete-then-rename would open a window where a crash leaves NO
    // pointer; current()'s highest-version fallback covers even that on
    // stores lacking overwrite-rename, but here the window doesn't exist.
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      f.getUri, spark.sparkContext.hadoopConfiguration)
    fc.rename(f.makeQualified(tmp), f.makeQualified(ptr),
      org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    // prune superseded versions (best-effort, AFTER the flip; never
    // touches the version the pointer now references). Retention keeps
    // the newest `keepVersions` — the pointer target is always newest-or-
    // equal by batch id, so it is always retained.
    versionDirs(f, root).drop(keepVersions).foreach { p =>
      if (p.getName != version) f.delete(p, true)
    }
  }

  /** Committed version ids under `root`, newest first. */
  def versions(spark: SparkSession, root: String): Seq[Long] =
    versionDirs(fs(spark, root), root).map(_.getName.drop(1).toLong)

  /** Highest batch id whose effects are DURABLY APPLIED — the replay-
    * idempotency test for non-idempotent maintainers (AggLedger): the
    * pointer target when present, else the highest version dir carrying
    * Spark's `_SUCCESS` marker. A bare `v<id>` dir without `_SUCCESS` is a
    * crash mid-`updated.write` — its batch's effects are NOT in state, so
    * counting it would make a maintainer skip a genuine replay and lose
    * the batch (the dual failure of the double-count this test prevents).
    */
  def appliedVersion(spark: SparkSession, root: String): Option[Long] =
    appliedState(spark, root).map(_._1)

  /** [[appliedVersion]] plus the transaction id that committed it (None
    * for pre-txn state or a txn-less committer). The crash-recovery path
    * (no pointer) recovers the id from the version dir's `_TXN` mirror.
    */
  def appliedState(spark: SparkSession, root: String): Option[(Long, Option[String])] = {
    val f = fs(spark, root)
    def dirTxn(p: org.apache.hadoop.fs.Path): Option[String] = {
      val m = new org.apache.hadoop.fs.Path(p, "_TXN")
      if (!f.exists(m)) None
      else {
        val in = f.open(m)
        val t = try scala.io.Source.fromInputStream(in).mkString.trim finally in.close()
        Some(t).filter(_.nonEmpty)
      }
    }
    val ptr = new org.apache.hadoop.fs.Path(root, "_LATEST")
    if (f.exists(ptr)) {
      val (v, txn) = readPointer(f, ptr)
      Some((v.drop(1).toLong, txn))
    } else versionDirs(f, root)
      .find(p => f.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS")))
      .map(p => (p.getName.drop(1).toLong, dirTxn(p)))
  }
}
