package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** The BOILERPLATE SPAN-FREQUENCY state, maintained twin of
  * [[graft.ext.Boilerplate]]: span document-frequency is doc-distinct and
  * batches carry DISJOINT documents, so df is ADDITIVE across segments. A
  * batch's coverage then costs its own span explode plus one join against
  * the served HOT sliver (df ≥ minDf); the corpus is never re-scanned.
  *
  * State rows are `(xxhash64(span), span, df)` per batch. The span TEXT
  * rides in state so the serve-side threshold groups by the string itself
  * and an 8-byte collision can never promote a rare span (a deployment
  * bounds width with the md5-surrogate trade). ALL spans are folded, not
  * only batch-hot ones — a span rare in every batch can be hot
  * corpus-wide — so the threshold is a serve-time parameter. The n-gram
  * order IS pinned: counts under a different n are not comparable.
  */
object BoilerLedgerStream {

  private val Schema = StructType(Seq(
    StructField("h", LongType, nullable = false),
    StructField("t", StringType),
    StructField("df", LongType, nullable = false)))

  /** (id, gl) — each doc's DISTINCT n-gram spans (the batch operator's
    * private docSpans: probe and fold must explode identically).
    */
  private def docSpans(docs: DataFrame, n: Int): DataFrame =
    docs.select(col("doc_id").as("id"),
      array_distinct(graft.ext.Decontaminate.ngrams("text", n)).as("gl"))

  /** The ledger at n-gram order `n`. */
  def ledger(n: Int = 3): SegmentLedger = new SegmentLedger(Schema,
    docSpans(_, n).select(explode(col("gl")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("df"))
      .select(xxhash64(col("t")).as("h"), col("t"), col("df")),
    merge = SegmentLedger.sumBy("df", "h", "t"),
    params = Seq("n" -> n.toLong))

  def maintain(docs: DataFrame, batchId: Long, root: String, n: Int = 3): Unit =
    ledger(n).maintain(docs, batchId, root)

  def attach(docs: DataFrame, root: String, checkpoint: String,
             n: Int = 3): DataStreamWriter[Row] = ledger(n).attach(docs, root, checkpoint)

  /** Corpus-wide span df summed across live segments (unthresholded). */
  def serve(spark: SparkSession, root: String): DataFrame = {
    val l = ledger()
    l.merge(l.serve(spark, root))
  }

  def compact(spark: SparkSession, root: String): Option[Long] = ledger().compact(spark, root)

  /** The hot sliver: spans with corpus-wide df ≥ `minDf`, thresholded at
    * the span STRING. TWO-PHASE: phase 1 sums df by the 8-byte hash alone
    * (the text column is pruned at the scan, so the vocabulary shuffle
    * carries 16 B rows); phase 2 re-sums by `(h, t)` only the rows whose
    * hash passed. Sound because a collision only MERGES counts: phase 1's
    * survivors are a superset of the true hot set, and phase 2 decides
    * exactly.
    */
  def hotSpans(spark: SparkSession, root: String, minDf: Long): DataFrame = {
    val raw = ledger().serve(spark, root)
    val hot = raw.groupBy(col("h")).agg(sum(col("df")).as("df"))
      .filter(col("df") >= minDf)
      .select(col("h"))
    raw.join(hot, Seq("h"), "left_semi")
      .groupBy(col("h"), col("t")).agg(sum(col("df")).as("df"))
      .filter(col("df") >= minDf)
      .select(col("t").as("gram"), col("df"))
  }

  /** Per-document boilerplate coverage of a batch against the maintained
    * df — [[graft.ext.Boilerplate.coverage]]'s exact output shape and join
    * semantics, the corpus never re-scanned.
    */
  def probe(spark: SparkSession, root: String, batch: DataFrame,
            n: Int = 3, minDf: Long = 5L): DataFrame = {
    ledger(n).validate(spark, root)
    val ds = docSpans(batch, n).filter(size(col("gl")) >= 1)
    val exploded = ds.select(col("id"), explode(col("gl")).as("gram"))
    val hits = exploded
      .join(hotSpans(spark, root, minDf).select(col("gram")), Seq("gram"), "left_semi")
      .groupBy(col("id")).agg(count(lit(1)).as("__nb"))
    ds.select(col("id"), size(col("gl")).as("n_spans"))
      .join(hits, Seq("id"), "left")
      .select(col("id").as("doc_id"), col("n_spans"),
        coalesce(col("__nb"), lit(0L)).cast("int").as("n_boiler"),
        (coalesce(col("__nb"), lit(0L)).cast("double") / col("n_spans"))
          .as("boiler_ratio"))
  }
}
