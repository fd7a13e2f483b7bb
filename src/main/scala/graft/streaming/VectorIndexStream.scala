package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, LongType, StructField, StructType}

/** The IVF ANN INDEX: newly ingested embeddings are assigned to the
  * FROZEN trained centroids ([[graft.ext.Similarity.ivfAssign]] — the
  * model is train-once state) and each batch's `(cid, n_id, n_vec)` rows
  * land as one segment. `cid` stays a partition column UNDER each segment
  * (`batch=<id>/cid=<c>/`), so a probe's cid filter still prunes to
  * nprobe/nlist of the files before any IO, exactly as with the batch
  * layout.
  *
  * DRIFT GATE: frozen centroids go stale when the embedding distribution
  * moves, and recall then decays silently. The observable signal is the
  * quantization error mean(1 − cos(v, centroid(v))): [[maintain]] compares
  * each batch's error against the training-time baseline
  * ([[quantizationError]]) and FAILS LOUDLY past `maxDriftRatio` — the
  * stream's failure is the retrain signal.
  */
object VectorIndexStream {

  // rows arrive already assigned: maintain owns the assignment and the gate
  private val Ledger = new SegmentLedger(
    StructType(Seq(StructField("cid", IntegerType), StructField("n_id", LongType),
      StructField("n_vec", ArrayType(DoubleType)))),
    identity, partitionBy = Some("cid"))

  /** Mean quantization error of an assignment relation (cid, n_id, n_vec)
    * against its model: mean over vectors of (1 − cosine(v, centroid)).
    * Decimal-summed mean (task-order-independent), returned as double —
    * this is the drift gate's baseline, measured once at training time.
    */
  def quantizationError(assigned: DataFrame,
                        model: graft.ext.Similarity.IvfModel): Double = {
    val withC = assigned.join(model.centroidDf(assigned.sparkSession), Seq("cid"))
      .select((lit(1.0) - graft.ext.Similarity.cosine(col("n_vec"), col("c_vec"))).as("err"))
    val r = withC.agg(
      (sum(col("err").cast("decimal(28,14)")) / count(lit(1)))
        .cast("double").as("e")).head()
    if (r.isNullAt(0)) 0.0 else r.getDouble(0)
  }

  /** Fold one batch of `(vec_id, embedding)` rows (the foreachBatch body).
    * Empty batches are a no-op. Throws IllegalStateException when the
    * batch's quantization error exceeds `maxDriftRatio` × `baselineError`;
    * a refused batch commits nothing.
    */
  def maintain(batch: DataFrame, batchId: Long, root: String,
               model: graft.ext.Similarity.IvfModel,
               baselineError: Double, maxDriftRatio: Double = 2.0): Unit = {
    require(maxDriftRatio > 0, s"maxDriftRatio must be > 0, got $maxDriftRatio")
    if (!batch.isEmpty) {
      val assigned = graft.ext.Similarity.ivfAssign(batch, model)
        .persist() // two consumers: the gate and the write — assign once
      try {
        val err = quantizationError(assigned, model)
        // a near-zero training baseline would make any real batch "drift";
        // floor it at 1e-9 so the ratio stays meaningful
        val bound = maxDriftRatio * math.max(baselineError, 1e-9)
        if (err > bound)
          throw new IllegalStateException(f"VectorIndexStream: batch $batchId " +
            f"quantization error $err%.6f exceeds $maxDriftRatio%.1fx the training " +
            f"baseline $baselineError%.6f — the frozen centroids no longer describe the " +
            "incoming distribution; retrain (and re-assign) before resuming this stream.")
        // clustered by cid, each list is ≤ 1 file per segment (unclustered:
        // tasks × nlist slivers — 1111 files for 2000 rows at sf0.1)
        Ledger.write(assigned, s"$root/batch=$batchId")
      } finally { assigned.unpersist(); () }
    }
  }

  /** Merge the batches past the newest compact segment into one,
    * still cid-partitioned and clustered.
    */
  def compact(spark: SparkSession, root: String): Option[Long] = Ledger.compact(spark, root)

  /** The served assignment relation (cid, n_id, n_vec); cid filters prune
    * at the file level.
    */
  def serve(spark: SparkSession, root: String): DataFrame = Ledger.serve(spark, root)

  /** Attach [[maintain]] to an embedding stream; the frozen model and its
    * baseline ride the closure.
    */
  def attach(embeddings: DataFrame, root: String, checkpoint: String,
             model: graft.ext.Similarity.IvfModel, baselineError: Double,
             maxDriftRatio: Double = 2.0): DataStreamWriter[Row] =
    embeddings.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch((df: DataFrame, id: Long) =>
        maintain(df, id, root, model, baselineError, maxDriftRatio))
}
