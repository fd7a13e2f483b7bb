package graft.streaming

import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSpec
import graft.ext.Similarity
import org.apache.commons.io.FileUtils
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, LongType}

/** Pins how [[SegmentLedger]] reads its segments: with the declared
  * schema, so building a served frame over any number of live segments
  * submits no Spark job (schema inference would run one per segment), and
  * a `partitionBy` layout serves its rows in the declared column order.
  * Replay and crash behavior is [[graft.props.SegmentLedgerProps]]'.
  */
class SegmentLedgerSpec extends SparkSpec {
  import spark.implicits._

  private val Tag = "graft.test.segment-read"

  /** Jobs submitted while `body` runs; waits for the listener bus to
    * deliver them by running one marker job after it.
    */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val inBody = new AtomicInteger
    val markers = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(Tag))) match {
          case Some("body") => inBody.incrementAndGet()
          case Some("marker") => markers.incrementAndGet()
          case _ => ()
        }
    }
    sc.addSparkListener(l)
    try {
      sc.setLocalProperty(Tag, "body")
      val r = try body finally sc.setLocalProperty(Tag, "marker")
      try spark.range(1).count() finally sc.setLocalProperty(Tag, null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (markers.get == 0 && System.nanoTime() < deadline) Thread.sleep(10)
      assert(markers.get > 0, "listener bus did not deliver the marker job")
      (r, inBody.get)
    } finally sc.removeSparkListener(l)
  }

  private def liveKinds(root: String): Seq[String] =
    SegmentStore.live(spark, root).map(_.split('/').last.takeWhile(_ != '=')).sorted

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  /** `body` over a fresh store root, deleted afterwards. */
  private def withRoot(body: String => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft-segread").toFile
    try body(s"$dir/st") finally FileUtils.deleteQuietly(dir)
  }

  test("serve over a compact and two batch segments submits no job")(withRoot { root =>
    val waves = Seq(Seq((1L, "alpha beta"), (2L, "gamma")), Seq((3L, "delta")),
      Seq((4L, "alpha beta"), (5L, "eps")), Seq((6L, "zeta eta")))
    def fold(i: Int) = ExactDedupLedgerStream.maintain(waves(i).toDF("doc_id", "text"), i.toLong, root)
    fold(0); fold(1)
    ExactDedupLedgerStream.compact(spark, root)
    fold(2); fold(3)
    assert(liveKinds(root) === Seq("batch", "batch", "compact"))
    val (served, jobs) = jobsDuring(ExactDedupLedgerStream.serve(spark, root))
    assert(jobs === 0, s"building the served frame ran $jobs job(s)")
    assert(served.schema.fieldNames.toSeq === Seq("h", "t"))
    val want = waves.flatten.toDF("doc_id", "text")
      .select(xxhash64(col("text")).as("h"), col("text").as("t"))
    assert(rows(served.distinct()) === rows(want.distinct()))
  })

  test("VectorIndex (partitionBy = cid): served rows keep the declared schema")(withRoot { root =>
    val corpus = (0 until 12).map { i =>
      val j = (i % 4) * 0.01f
      (i.toLong, if (i % 2 == 0) Seq(1.0f, j, 0.0f) else Seq(j, 1.0f, 0.0f))
    }.toDF("vec_id", "embedding")
    val m = Similarity.ivfTrain(corpus, nlist = 2, iters = 2)
    (0 until 3).foreach { w =>
      VectorIndexStream.maintain(corpus.filter(pmod(col("vec_id"), lit(3)) === w), w, root,
        m, 1.0, maxDriftRatio = 1e6)
      if (w == 1) VectorIndexStream.compact(spark, root)
    }
    assert(liveKinds(root) === Seq("batch", "compact"))
    val (served, jobs) = jobsDuring(VectorIndexStream.serve(spark, root))
    assert(jobs === 0, s"building the served frame ran $jobs job(s)")
    assert(served.schema.map(f => f.name -> f.dataType) ===
      Seq("cid" -> IntegerType, "n_id" -> LongType, "n_vec" -> ArrayType(DoubleType)))
    assert(rows(served) === rows(Similarity.ivfAssign(corpus, m)))
  })
}
