package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ext.{Audio, CosineJoin, JaccardDedup, KCore, Multimodal, Packing, PageRank}

/** The [[Materialize]] ownership rule, one case per function that returns
  * a materialized frame: once the caller releases the result, the session
  * caches exactly what it cached before the call.
  */
class StorageContractSpec extends SparkSpec {

  private def cached: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def ownsOnlyResult(name: String)(call: => DataFrame): Unit =
    test(s"$name: releasing the result leaves no storage behind") {
      val before = cached
      val out = call
      out.count(): Unit // a lazy result would only now fill any cache it reads
      Materialize.release(out, blocking = true)
      val left = cached -- before
      assert(left.isEmpty, s"$name left RDDs ${left.toSeq.sorted.mkString(", ")} cached")
    }

  // 40 docs over a 12-word vocabulary: near-duplicate families so every
  // join in the pair searches produces rows
  private def docs = {
    import spark.implicits._
    val vocab = (0 until 12).map(i => s"w$i")
    (0 until 40).map { i =>
      val text = (0 until 8).map(j => vocab((i % 5 + j * (1 + i % 3)) % 12)).mkString(" ")
      (i.toLong, s"src${i % 2}", text.length, text)
    }.toDF("doc_id", "source", "n_chars", "text")
  }

  private def edges = {
    import spark.implicits._
    Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (4L, 6L), (7L, 8L))
      .toDF("doc_a", "doc_b")
  }

  // near-identical signatures: two hash groups with several members and
  // one rep within hamming 1 of another, so banding, CC and expansion run
  private def sigs(col: String) = {
    import spark.implicits._
    Seq((1L, 0xF0F0L), (2L, 0xF0F0L), (3L, 0xF0F1L), (4L, 0x0F0F0F0FL), (5L, 0x0F0F0F0FL),
      (6L, 0x123456789L)).toDF("media_id", col)
  }

  ownsOnlyResult("JaccardDedup.similarPairs")(JaccardDedup.similarPairs(docs, 0.5))
  ownsOnlyResult("JaccardDedup.containmentPairs")(
    JaccardDedup.containmentPairs(docs, threshold = 0.4, ngram = 3))
  ownsOnlyResult("CosineJoin.similarPairs")(
    CosineJoin.similarPairs(docs, 0.4, maxDf = 100L, ngram = 3))
  ownsOnlyResult("KCore.kCore")(KCore.kCore(edges, k = 2))
  ownsOnlyResult("KCore.kCoreRounds")(KCore.kCoreRounds(edges, k = 2, rounds = 3))
  ownsOnlyResult("PageRank.pagerankRounds")(PageRank.pagerankRounds(
    edges.select(col("doc_a").cast("string").as("src"), col("doc_b").cast("string").as("dst")),
    iters = 3))
  ownsOnlyResult("Multimodal.imageDedupGroupsFromSigs")(
    Multimodal.imageDedupGroupsFromSigs(sigs("dhash"), maxDist = 3))
  ownsOnlyResult("Audio.audioDedupGroupsFromSigs")(
    Audio.audioDedupGroupsFromSigs(sigs("afp"), maxDist = 3))
  ownsOnlyResult("Packing.packBinsBy")(Packing.packBinsBy(
    docs.select(col("doc_id"), length(col("text")).cast("long").as("n_tokens")),
    Seq(col("doc_id")), "n_tokens", budget = 512L))
}
