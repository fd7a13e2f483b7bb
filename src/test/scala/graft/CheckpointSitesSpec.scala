package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source scans: the only files under `src/main/scala` that call
  * `.localCheckpoint(`, and the only ones that call `.persist(` or
  * `.cache()`, directly. A round loop goes through [[Materialize.rounds]],
  * any other checkpoint through [[Materialize.checkpoint]], and a frame
  * cached for one computation through [[Materialize.using]], so a
  * hand-written loop that checkpoints its rounds, or a layer that caches a
  * frame and never frees it, cannot come back unnoticed. Each file left on
  * a list says why it still does it by hand; the lists only shrink.
  */
class CheckpointSitesSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala/graft")

  private val checkpointers = Map(
    "Materialize.scala" -> "the one checkpoint and round-loop idiom",
    "spark/PartitioningBridge.scala" -> "re-declares the partitioning the checkpoint keeps",
    "ext/Triangles.scala" -> "shared edge relations and the node-sized result, no rounds",
    "ext/Packing.scala" -> "running-total layouts read twice, and the schedule result",
    "ext/SimHash.scala" -> "the grouping result over a released components frame",
    "ops/Sampling.scala" -> "the mix schedule over two released layouts",
    "streaming/VersionedState.scala" -> "a snapshot taken before its version dir is overwritten")

  private val persisters = Map(
    "Materialize.scala" -> "the one pin and using idiom",
    "ext/Boilerplate.scala" -> "the span scan both hash-first passes read",
    "ext/CosineJoin.scala" -> "the weighted corpus, its norms and the prefix rows, each read twice",
    "ext/Decontaminate.scala" -> "the eval n-gram set, a session cache shared across batches",
    "ext/JaccardDedup.scala" -> "n-gram sets and prefix rows read by both join sides",
    "ext/MinHashDedup.scala" -> "the pair searches' signatures, session caches read by banding and verify",
    "ext/PageRank.scala" -> "the edge view and out-degrees of the frontier path",
    "ext/SimHash.scala" -> "signature frames read by the chunk explode and the verify join")

  /** Files below `tools/` are diagnostics, not engine code. */
  private def exempt(rel: String): Boolean = rel.startsWith("tools/")

  private def callers(calls: Seq[String]): Set[String] = {
    val it = Files.walk(root)
    try it.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && callsDirectly(p, calls))
      .map(p => root.relativize(p).toString.replace('\\', '/'))
      .filterNot(exempt)
      .toSet
    finally it.close()
  }

  // a call in code, not in a comment line
  private def callsDirectly(p: Path, calls: Seq[String]): Boolean =
    Files.readAllLines(p).asScala.exists { line =>
      val t = line.trim
      !t.startsWith("//") && !t.startsWith("*") && !t.startsWith("/*") &&
        calls.exists(t.contains)
    }

  private def onlyListed(calls: Seq[String], allowed: Map[String, String], instead: String): Unit = {
    val found = callers(calls)
    assert(found.nonEmpty, s"the scan found no caller under $root")
    val unlisted = found -- allowed.keySet
    assert(unlisted.isEmpty, s"$instead: " + unlisted.toSeq.sorted.mkString(", "))
    val stale = allowed.keySet -- found
    assert(stale.isEmpty, s"no longer call ${calls.mkString(" or ")}; drop them from the list: " +
      stale.toSeq.sorted.mkString(", "))
  }

  test("only the allow-listed files call localCheckpoint directly") {
    onlyListed(Seq(".localCheckpoint("), checkpointers,
      "checkpoint through Materialize.checkpoint, or rounds through Materialize.rounds")
  }

  test("only the allow-listed files call persist or cache directly") {
    onlyListed(Seq(".persist(", ".cache()"), persisters,
      "cache a frame for one computation through Materialize.using, or pin it")
  }
}
