package graft

import org.scalatest.funsuite.AnyFunSuite

/** Drift guard for the bench's isolated build re-measure: a build whose
  * owning object `SparkEntry.queries` never initializes is never
  * registered, so it would silently drop out of Bench's `builds_isolated`
  * block — the exact single-shot blind spot the block exists to close.
  * Scans the main source tree for `Build("name")` / `Build[V]("name", …)`
  * declaration literals and requires each name to be registered once the
  * query objects initialize.
  */
class BuildRebuildSpec extends AnyFunSuite {

  private val declaration = """Build(?:\[.*\])?\("([a-z0-9_]+)"""".r

  private def declared(tree: String): Set[String] = {
    val root = java.nio.file.Paths.get(tree)
    assert(java.nio.file.Files.isDirectory(root), s"run from repo root: $root")
    val it = java.nio.file.Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      it.iterator().asScala
        .filter(p => p.toString.endsWith(".scala"))
        .flatMap(p => declaration.findAllMatchIn(java.nio.file.Files.readString(p))
          .map(_.group(1)))
        .toSet
    } finally it.close()
  }

  test("every graft.Build declaration registers when SparkEntry.queries initializes") {
    SparkEntry.queries: Unit // initialize query objects → builds register
    val main = declared("src/main/scala")
    assert(main.nonEmpty, "source scan found no graft.Build declarations")
    val missing = main -- Build.names
    assert(missing.isEmpty,
      s"builds never registered (declare them in an object SparkEntry.queries " +
        s"initializes): ${missing.toSeq.sorted.mkString(", ")}")
    // and the scan sees every registered build (test builds included)
    val unseen = Build.names -- main -- declared("src/test/scala")
    assert(unseen.isEmpty,
      s"registered builds the declaration scan missed: ${unseen.toSeq.sorted.mkString(", ")}")
  }
}
