package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ext.{Audio, Bpe, ByteBpe, Components, CosineJoin, JaccardDedup, KCore, Multimodal,
  Packing, PageRank, WordPiece}
import graft.io.Sinks
import graft.pipeline.{Bronze, Gold, Medallion, Schemas, Silver}
import graft.streaming.MinHashLedgerStream

/** The [[Materialize]] ownership rule, one case per function that returns
  * a materialized frame: once the caller releases the result, the session
  * caches exactly what it cached before the call.
  */
class StorageContractSpec extends SparkSpec {

  private def ownsOnlyResult(name: String)(call: => DataFrame): Unit =
    test(s"$name: releasing the result leaves no storage behind") {
      val before = cached
      val out = call
      out.count(): Unit // a lazy result would only now fill any cache it reads
      Materialize.release(out, blocking = true)
      val left = cached -- before
      assert(left.isEmpty, s"$name left RDDs ${left.toSeq.sorted.mkString(", ")} cached")
    }

  /** For a function that returns no frame: it leaves the session's
    * storage as it found it.
    */
  private def leavesNoStorage(name: String)(call: => Any): Unit =
    test(s"$name: leaves no storage behind") {
      val before = cached
      call
      assert(cached == before, s"$name changed the cached RDDs")
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

  private def links =
    edges.select(col("doc_a").cast("string").as("src"), col("doc_b").cast("string").as("dst"))

  private def newLinks = {
    import spark.implicits._
    Seq(("8", "9")).toDF("src", "dst")
  }

  // the pre-batch round ledger, held as local rows: it owns no storage
  private lazy val prLedger = {
    val ledger = PageRank.pagerankRounds(links, iters = 3)
    try spark.createDataFrame(java.util.Arrays.asList(ledger.collect(): _*), ledger.schema)
    finally Materialize.release(ledger, blocking = true)
  }

  // raw acordos rows, one exact copy and both partner types, so gold's
  // filters and silver's distinct all have rows to work on
  private def acordos = {
    import spark.implicits._
    val fr = ("01/02/2010", "frança", "País", "Europa", "Europa Ocidental", "Paris",
      "bilateral", "acordo d'água", "cooperação", "hídricos", "memorando", "01/02/2020", "l")
    val onu = ("03/04/2015", "ONU", "Organização", "-", "", "Genebra", "multilateral",
      "tratado", "-", "", "tratado", "", "")
    Seq(fr, fr, onu).toDF(Schemas.rawHeaders: _*)
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
  ownsOnlyResult("PageRank.pagerankRounds")(PageRank.pagerankRounds(links, iters = 3))
  ownsOnlyResult("PageRank.pagerankInt")(PageRank.pagerankInt(links, iters = 3))
  // the batch's seed is 2 of 9 nodes: a fallback fraction above that keeps
  // the frontier rounds, one below it falls back to the full recompute
  for ((path, fraction) <- Seq("frontier" -> 0.9, "fallback" -> 0.05)) {
    ownsOnlyResult(s"PageRank.incrementalInt ($path)") {
      val stats = scala.collection.mutable.ArrayBuffer.empty[Long]
      val out = PageRank.incrementalInt(prLedger, links.union(newLinks), newLinks, iters = 3,
        statsOut = Some(stats), fallbackFraction = fraction)
      assert(stats.nonEmpty == (path == "frontier"), s"took the other path: $stats")
      out
    }
    ownsOnlyResult(s"PageRank.incrementalLedger ($path)")(PageRank.incrementalLedger(
      prLedger, links.union(newLinks), newLinks, iters = 3, fallbackFraction = fraction))
  }
  ownsOnlyResult("Components.connectedComponents")(Components.connectedComponents(edges))
  ownsOnlyResult("Components.connectedComponentsStar")(Components.connectedComponentsStar(edges))
  ownsOnlyResult("Components.incrementalComponents(smallGraphEdges = 0)") {
    import spark.implicits._
    val labels = Seq((1L, 1L), (2L, 1L), (7L, 7L), (8L, 7L)).toDF("doc_id", "component")
    Components.incrementalComponents(labels, edges, smallGraphEdges = 0L)
  }
  ownsOnlyResult("Multimodal.imageDedupGroupsFromSigs")(
    Multimodal.imageDedupGroupsFromSigs(sigs("dhash"), maxDist = 3))
  ownsOnlyResult("Audio.audioDedupGroupsFromSigs")(
    Audio.audioDedupGroupsFromSigs(sigs("afp"), maxDist = 3))
  ownsOnlyResult("Packing.packBinsBy")(Packing.packBinsBy(
    docs.select(col("doc_id"), length(col("text")).cast("long").as("n_tokens")),
    Seq(col("doc_id")), "n_tokens", budget = 512L))
  // the probe's novel-id frame is the caller's; nothing else stays cached
  ownsOnlyResult("MinHashLedgerStream.probe") {
    val root = scratch("mhled") + "/st"
    MinHashLedgerStream.maintain(docs.filter(col("doc_id") < 20), 0L, root)
    MinHashLedgerStream.maintain(docs.filter(col("doc_id").between(20, 29)), 1L, root)
    MinHashLedgerStream.probe(spark, root, docs.filter(col("doc_id") >= 30))
  }
  // the merge loop checkpoints the vocab every round
  leavesNoStorage("Bpe.train")(Bpe.train(docs, "text", numMerges = 4))
  leavesNoStorage("Bpe.train(batch = 4)")(Bpe.train(docs, "text", numMerges = 8, batch = 4))
  leavesNoStorage("ByteBpe.train")(ByteBpe.train(docs, "text", numMerges = 4))
  leavesNoStorage("WordPiece.train")(WordPiece.train(docs, "text", numMerges = 4))
  leavesNoStorage("WordPiece.train(batch = 4)")(
    WordPiece.train(docs, "text", numMerges = 8, batch = 4))
  leavesNoStorage("Medallion.run") {
    val root = scratch("medallion")
    acordos.write.parquet(s"$root/landing")
    Medallion.run(spark, s"$root/landing", s"$root/out")
  }
  leavesNoStorage("Gold.transform, its four outputs written") {
    val g = Gold.transform(Silver.transform(Bronze.transform(acordos)))
    val root = scratch("gold")
    for ((name, out) <- Seq("acordos" -> g.acordos, "hier" -> g.hier, "pais" -> g.pais,
        "org" -> g.org))
      Sinks.writeParquet(out, s"$root/$name")
  }
}
