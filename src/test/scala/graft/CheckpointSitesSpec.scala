package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source scan: the only files under `src/main/scala` that call
  * `.localCheckpoint(` directly. A round loop goes through
  * [[Materialize.rounds]] and any other checkpoint through
  * [[Materialize.checkpoint]], so a hand-written loop that checkpoints
  * its rounds cannot come back unnoticed. Each file left below says why it
  * still checkpoints by hand; the list only shrinks.
  */
class CheckpointSitesSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala/graft")

  private val allowed = Map(
    "Materialize.scala" -> "the one checkpoint and round-loop idiom",
    "spark/PartitioningBridge.scala" -> "re-declares the partitioning the checkpoint keeps",
    "ext/Triangles.scala" -> "shared edge relations and the node-sized result, no rounds",
    "ext/Packing.scala" -> "running-total layouts read twice, and the schedule result",
    "ext/SimHash.scala" -> "the grouping result over a released components frame",
    "ops/Sampling.scala" -> "the mix schedule over two released layouts",
    "streaming/VersionedState.scala" -> "a snapshot taken before its version dir is overwritten")

  /** Files below `tools/` are diagnostics, not engine code. */
  private def exempt(rel: String): Boolean = rel.startsWith("tools/")

  private def callers: Set[String] = {
    val it = Files.walk(root)
    try it.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && callsDirectly(p))
      .map(p => root.relativize(p).toString.replace('\\', '/'))
      .filterNot(exempt)
      .toSet
    finally it.close()
  }

  // a call in code, not in a comment line
  private def callsDirectly(p: Path): Boolean =
    Files.readAllLines(p).asScala.exists { line =>
      val t = line.trim
      !t.startsWith("//") && !t.startsWith("*") && !t.startsWith("/*") &&
        t.contains(".localCheckpoint(")
    }

  test("only the allow-listed files call localCheckpoint directly") {
    val found = callers
    assert(found.nonEmpty, s"the scan found no caller under $root")
    val unlisted = found -- allowed.keySet
    assert(unlisted.isEmpty,
      s"checkpoint through Materialize.checkpoint, or rounds through Materialize.rounds: " +
        unlisted.toSeq.sorted.mkString(", "))
    val stale = allowed.keySet -- found
    assert(stale.isEmpty, s"no longer call localCheckpoint; drop them from the list: " +
      stale.toSeq.sorted.mkString(", "))
  }
}
