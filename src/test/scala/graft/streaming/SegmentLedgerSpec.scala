package graft.streaming

import graft.SparkSpec
import graft.ext.{AggLedger, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, LongType, StringType}

/** Pins how both ledger stores read their state: with the declared
  * schema, so building a served frame over any number of live segments
  * ([[SegmentLedger]]) or over the current or a past version
  * ([[VersionedLedger]]) submits no Spark job (schema inference would run
  * one per segment or version), and a `partitionBy` layout serves its rows
  * in the declared column order. Replay and crash behavior is
  * [[graft.props.LedgerProps]]'.
  */
class SegmentLedgerSpec extends SparkSpec {
  import spark.implicits._

  private def liveKinds(root: String): Seq[String] =
    SegmentStore.live(spark, root).map(_.split('/').last.takeWhile(_ != '=')).sorted

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  /** `body` over a fresh store root. */
  private def withRoot(body: String => Unit): Unit = body(scratch("segread") + "/st")

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

  test("versioned serve, probe and time-travel reads submit no job")(withRoot { root =>
    val docs = Seq((1L, "alpha beta gamma delta"), (2L, "beta gamma delta eps")).toDF("doc_id", "text")
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a")).toDF("src", "dst")
    val facts = Seq((1L, "x", 1.0), (2L, "y", 2.0)).toDF("id", "k", "v")
    (0 until 2).foreach { b =>
      DedupLedgerStream.maintain(Seq((1L + b, 2L + b)).toDF("doc_a", "doc_b"), b, s"$root/dedup")
      IndexLedgerStream.maintain(docs.filter(col("doc_id") === b + 1), b, s"$root/index")
      DecontamLedgerStream.maintain(docs.filter(col("doc_id") === b + 1), b, s"$root/decontam")
      AggLedger.maintain(facts.filter(col("id") === b + 1), b, s"$root/agg", Seq("k"), "v",
        keepVersions = 2)
    }
    PageRankLedgerStream.maintain(edges, 0L, s"$root/pr", iters = 3)
    val agg = AggLedger.ledger(Seq("k"), Seq(StringType))
    val reads = Seq[(String, () => DataFrame)](
      "Dedup serve" -> (() => DedupLedgerStream.serve(spark, s"$root/dedup")),
      "Index serve" -> (() => IndexLedgerStream.serve(spark, s"$root/index")),
      "Decontam probe" -> (() => DecontamLedgerStream.probe(spark, s"$root/decontam", docs)),
      "Agg serve" -> (() => agg.serve(spark, s"$root/agg")),
      "Agg atVersion" -> (() => agg.atVersion(spark, s"$root/agg", 0L)),
      "PageRank serve" -> (() => PageRankLedgerStream.serve(spark, s"$root/pr", iters = 3)),
      "PageRank edges" -> (() => PageRankLedgerStream.edges(spark, s"$root/pr")))
    reads.foreach { case (name, read) =>
      val (served, jobs) = jobsDuring(read())
      assert(jobs === 0, s"building the $name frame ran $jobs job(s)")
      assert(!served.isEmpty, name)
    }
  })
}
