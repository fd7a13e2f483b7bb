package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, sum}
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.StructType

import scala.util.control.NonFatal

/** The append-shaped state layout of every corpus-sized ledger
  * ([[SegmentLedger]]): per-batch `batch=<id>/` parquet directories plus
  * `compact=<id>/` merge segments, each gated by Spark's own `_SUCCESS`
  * marker. [[VersionedState]] rewrites a COMPLETE ledger per commit —
  * right for rollup-sized state, wrong for state proportional to the
  * corpus (a 100 TB signature or vector index cannot be rewritten per
  * ingest) — so this store appends and reads union the live segments.
  *
  * Commit, replay and crash-window discipline (the one argument every
  * ledger relies on):
  *  - COMMIT: a batch writes its OWN directory `batch=<id>`; Spark's
  *    `_SUCCESS` marker is the commit point.
  *  - REPLAY: the state rows are a pure function of the batch, so an
  *    at-least-once re-delivery of `batch=<id>` overwrites it with
  *    identical content instead of duplicating it. Documents are facts,
  *    never retractions.
  *  - CRASHED WRITE: a directory without `_SUCCESS` is skipped by every
  *    read until the stream's restart replays its batch.
  *  - COMPACTION writes the merged `compact=<maxId>` segment FIRST and
  *    deletes its inputs after, best effort. Reads take the newest
  *    committed compact segment plus only the batches ABOVE its id
  *    ([[live]]), so a crash before, during or after the cleanup neither
  *    double-counts nor loses a batch.
  *  - PARAMETER PIN: state that is only meaningful under the parameters
  *    that produced it (MinHash h/k, n-gram n, CDC chunking) keeps them in
  *    `root/_params`. Every fold and probe validates BEFORE any work
  *    ([[validateParams]]); the first successful fold pins AFTER its
  *    commit ([[pinParams]]), so a failed first fold pins nothing.
  */
object SegmentStore {

  private def fsOf(spark: SparkSession, root: String) =
    new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Committed (`_SUCCESS`-gated) segment dirs under `root` with the given
    * name prefix, as (id, path).
    */
  def committed(spark: SparkSession, root: String,
                prefix: String): Seq[(Long, String)] = {
    val rp = new org.apache.hadoop.fs.Path(root)
    val fs = fsOf(spark, root)
    if (!fs.exists(rp)) Seq.empty
    else fs.listStatus(rp).toSeq.collect {
      case st if st.isDirectory && st.getPath.getName.startsWith(prefix) &&
        st.getPath.getName.drop(prefix.length).forall(_.isDigit) &&
        st.getPath.getName.length > prefix.length &&
        fs.exists(new org.apache.hadoop.fs.Path(st.getPath, "_SUCCESS")) =>
        (st.getPath.getName.drop(prefix.length).toLong, st.getPath.toString)
    }
  }

  /** The segments a read must cover EXACTLY ONCE: the newest committed
    * `compact=` segment (if any) plus every `batch=` dir with a HIGHER id.
    */
  def live(spark: SparkSession, root: String): Seq[String] = {
    val batches = committed(spark, root, "batch=")
    committed(spark, root, "compact=").sortBy(-_._1).headOption match {
      case Some((cid, path)) => path +: batches.filter(_._1 > cid).map(_._2)
      case None => batches.map(_._2)
    }
  }

  /** Fail loudly if the store is pinned to DIFFERENT parameters; no-op
    * when unpinned or matching.
    */
  def validateParams(spark: SparkSession, root: String,
                     params: Seq[(String, Long)]): Unit =
    readParams(spark, root).foreach { existing =>
      require(existing == params.toMap,
        s"segment store at $root was built with parameters " +
          s"${fmt(existing.toSeq)} — refusing to probe or fold with " +
          s"${fmt(params)} (misaligned sketches would silently corrupt " +
          "novelty answers)")
    }

  /** Pin `params` on an unpinned store (validate on a pinned one). */
  def pinParams(spark: SparkSession, root: String,
                params: Seq[(String, Long)]): Unit = {
    readParams(spark, root) match {
      case Some(_) => validateParams(spark, root, params)
      case None =>
        val fs = fsOf(spark, root)
        val p = new org.apache.hadoop.fs.Path(root, "_params")
        // ATOMIC pin: write a temp file, then rename — a crash mid-write
        // can never leave a truncated _params, and of two concurrent first
        // folds the rename loser falls through to validation
        val tmp = new org.apache.hadoop.fs.Path(root,
          s"_params.tmp.${java.util.UUID.randomUUID().toString.take(8)}")
        val out = fs.create(tmp, false)
        try out.write(fmt(params).getBytes("UTF-8")) finally out.close()
        if (!fs.rename(tmp, p)) {
          fs.delete(tmp, false)
          validateParams(spark, root, params) // a concurrent writer won
        }
    }
  }

  /** The pinned parameters, if this store has any ([[pinParams]]). */
  def readParams(spark: SparkSession, root: String): Option[Map[String, Long]] = {
    val fs = fsOf(spark, root)
    val p = new org.apache.hadoop.fs.Path(root, "_params")
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
      Some(body.split('\n').filter(_.contains("="))
        .map { ln => val Array(k, v) = ln.split("=", 2); (k, v.trim.toLong) }
        .toMap)
    }
  }

  private def fmt(params: Seq[(String, Long)]): String =
    params.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString("\n")

  /** COMPACTION (thousands of small per-batch directories eventually
    * dominate listing and footer cost): the newest compact segment (if
    * any) and every later batch merge into ONE `compact=<maxBatchId>`
    * segment written by `write(union, path)`. No-op when there is nothing
    * to merge (no new batch, or a single batch and no prior compact — a
    * rewrite that saves no files). Returns the new segment's id if one was
    * written.
    */
  def compact(spark: SparkSession, root: String,
              reader: String => DataFrame,
              write: (DataFrame, String) => Unit): Option[Long] = {
    val fs = fsOf(spark, root)
    val compacts = committed(spark, root, "compact=")
    val newestCompact = compacts.map(_._1).sorted.lastOption
    val mergeBatches = committed(spark, root, "batch=")
      .filter(b => newestCompact.forall(b._1 > _))
    if (mergeBatches.isEmpty ||
      (mergeBatches.size == 1 && compacts.isEmpty)) return None
    val newId = mergeBatches.map(_._1).max
    val inputs = compacts.sortBy(-_._1).headOption.map(_._2).toSeq ++
      mergeBatches.map(_._2)
    write(inputs.map(reader).reduce(_.unionByName(_)), s"$root/compact=$newId")
    (compacts.map(_._2) ++ mergeBatches.map(_._2)).foreach { p =>
      try { fs.delete(new org.apache.hadoop.fs.Path(p), true); () }
      catch { case NonFatal(_) => () }
    }
    Some(newId)
  }
}

/** One append-shaped ledger on the [[SegmentStore]] layout: the
  * maintain/serve/compact/attach every segment ledger shares. A ledger
  * without per-call parameters IS one (`object ExactDedupLedgerStream
  * extends SegmentLedger(...)`); one whose rows depend on sketch
  * parameters builds one per call (`MinHashLedgerStream.ledger(h, k)`).
  *
  * @param schema      the state columns, in order, as [[rows]] produces
  *                    them — every segment is read with this declared
  *                    schema (no footer-inference job per segment), and an
  *                    empty store serves an empty frame of it
  * @param rows        a batch's state rows; must be a pure function of the
  *                    batch (the replay argument)
  * @param merge       the compaction rewrite — identity, `distinct`, or a
  *                    sum by key ([[SegmentLedger.sumBy]]); `merge(serve)`
  *                    is the ledger's logical content
  * @param params      the `_params` pin; empty writes no pin
  * @param partitionBy a partition column kept under each segment
  *                    (clustered so each value is one file per segment)
  */
class SegmentLedger(val schema: StructType,
                    val rows: DataFrame => DataFrame,
                    val merge: DataFrame => DataFrame = identity,
                    val params: Seq[(String, Long)] = Nil,
                    val partitionBy: Option[String] = None) {

  /** Fail loudly if `root` is pinned to other parameters. */
  def validate(spark: SparkSession, root: String): Unit =
    if (params.nonEmpty) SegmentStore.validateParams(spark, root, params)

  /** Fold one batch (the foreachBatch body): its state rows as one
    * `batch=<id>` segment. A batch with no state rows commits nothing.
    */
  def maintain(docs: DataFrame, batchId: Long, root: String): Unit = {
    validate(docs.sparkSession, root)
    // pinned so the batch's upstream plan runs once across the emptiness
    // gate and the write
    graft.Materialize.using(rows(docs)) { state =>
      if (!state.isEmpty) {
        write(state, s"$root/batch=$batchId")
        if (params.nonEmpty) SegmentStore.pinParams(docs.sparkSession, root, params)
      }
    }
  }

  /** Overwrite one segment directory with `state`. */
  def write(state: DataFrame, dir: String): Unit =
    partitionBy.fold(state.write)(c => state.repartition(col(c)).write.partitionBy(c))
      .mode("overwrite").parquet(dir)

  /** The raw union of the live segments. */
  def serve(spark: SparkSession, root: String): DataFrame = {
    val segs = SegmentStore.live(spark, root)
    if (segs.isEmpty) spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    else segs.map(read(spark, _)).reduce(_.unionByName(_))
  }

  /** Merge the segments past the newest compact one ([[SegmentStore.compact]]). */
  def compact(spark: SparkSession, root: String): Option[Long] =
    SegmentStore.compact(spark, root, read(spark, _), (df, dir) => write(merge(df), dir))

  /** Attach [[maintain]] to a stream; the caller starts and stops it. */
  def attach(docs: DataFrame, root: String, checkpoint: String): DataStreamWriter[Row] =
    docs.writeStream.option("checkpointLocation", checkpoint)
      .foreachBatch((df: DataFrame, id: Long) => maintain(df, id, root))

  /** One segment directory, read with the declared schema. Each segment
    * is its own read root, so partition discovery never mixes the
    * batch=/compact= level into the schema; the select keeps the declared
    * column order (a read puts partition columns last).
    */
  def read(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(schema).parquet(dir).select(schema.map(f => col(f.name)): _*)
}

object SegmentLedger {
  /** The additive-state merge: `value` summed by `keys`. */
  def sumBy(value: String, keys: String*): DataFrame => DataFrame =
    _.groupBy(keys.map(col): _*).agg(sum(col(value)).as(value))
}
