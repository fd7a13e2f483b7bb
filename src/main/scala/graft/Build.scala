package graft

import scala.collection.concurrent.TrieMap
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}

/** A once-per-corpus build (IVF train/assign, the CC dedup ledger,
  * incremental-silver staging, ...): state that registry entries serve
  * from, built the first time any entry touches it. Declared once, as
  * `private val xFor = graft.Build[V](name, pinned) { (s, dir) => ... }`
  * in the owning query object; `xFor(s, dir)` returns the value.
  *
  *  - Key: one value per `(applicationId, corpus dir)`, so a fresh
  *    session (tests) never sees another session's cached plans. Entries
  *    are never evicted outside [[rebuild]]: one model or persisted frame
  *    per corpus, alive as long as the entries serving from it.
  *  - Time: each build records its EXCLUSIVE seconds under its name in
  *    [[Build.times]]. Builds nest (the CC ledger forces the pair graph,
  *    the layout write forces IVF training) and a build's time excludes
  *    the builds it forces, so [[Build.total]] equals the outermost
  *    builds' wall clock. [[Bench]] subtracts the delta from the query
  *    that triggered it, so a cold query time never absorbs a build.
  *    Nesting is per thread: a build runs inside one query's thread.
  *  - Rebuild: [[rebuild]] evicts ONLY this build's entry, releases the
  *    frames it pinned, and forces the build again. Dependencies stay
  *    cached, so a rebuild measures the same exclusive cost the time
  *    accounting records; Bench's `builds_isolated` block and
  *    [[graft.tools.Decompose]] re-measure builds this way.
  *  - Storage: a value owns exactly the frames `pinned` names, pinned or
  *    checkpointed, under the [[Materialize]] rule. A rebuild frees each
  *    through [[Materialize.release]], so a checkpoint's blocks go too,
  *    not only a cache entry. Release is BLOCKING: Spark's CacheManager
  *    keys cached data on the analyzed plan, so a lazily dropped entry
  *    would let the rebuilt plan re-attach to the old blocks and the rep
  *    would time a cache read. Each frame is released on its own; a
  *    failure on one cannot leave the others pinned.
  *  - Files: a build that writes takes its directory from [[scratch]],
  *    under one root per JVM that a shutdown hook deletes — unless the
  *    entry point named a root to keep ([[keepScratchIn]]).
  *  - Registry: declaring a build registers its name; a second build
  *    with the same name throws (it would share a time row and shadow the
  *    first one's rebuild). Registration happens when the owning object
  *    initializes, which touching `SparkEntry.queries` does for all.
  *
  * @param pinned the persisted frames a value owns, released on rebuild
  */
final class Build[V] private (val name: String, pinned: V => Seq[DataFrame],
                              compute: (SparkSession, String) => V) {
  private val cache = TrieMap.empty[(String, String), V]

  def apply(s: SparkSession, dir: String): V =
    cache.getOrElseUpdate(Build.key(s, dir), Build.timed(name)(compute(s, dir)))

  def rebuild(s: SparkSession, dir: String): Unit = {
    cache.remove(Build.key(s, dir)).foreach(v => pinned(v).foreach { df =>
      try Materialize.release(df, blocking = true)
      catch { case NonFatal(_) => () }
    })
    apply(s, dir): Unit
  }

  /** The value when exactly one corpus has been built: oracle generators
    * embed trained model state, which is ambiguous for zero or several.
    */
  def sole: Option[V] = cache.values.toList match {
    case only :: Nil => Some(only)
    case _ => None
  }
}

object Build {
  private val registry = TrieMap.empty[String, Build[_]]
  private val secs = TrieMap.empty[String, Double]

  def apply[V](name: String, pinned: V => Seq[DataFrame] = (_: V) => Nil)
              (compute: (SparkSession, String) => V): Build[V] = {
    val b = new Build(name, pinned, compute)
    if (registry.putIfAbsent(name, b).nonEmpty)
      throw new IllegalArgumentException(s"duplicate build name: $name")
    b
  }

  def names: Set[String] = registry.keySet.toSet

  def get(name: String): Option[Build[_]] = registry.get(name)

  /** Exclusive seconds per build name, accumulated over every run. */
  def times: Map[String, Double] = secs.toMap

  def total: Double = secs.values.sum

  private def key(s: SparkSession, dir: String) = (s.sparkContext.applicationId, dir)

  private val childSecs = new ThreadLocal[Double] {
    override def initialValue: Double = 0.0
  }

  private def timed[T](name: String)(f: => T): T = {
    val outer = childSecs.get()
    childSecs.set(0.0)
    val t0 = System.nanoTime()
    try f
    finally {
      val dt = (System.nanoTime() - t0) / 1e9
      val self = math.max(0.0, dt - childSecs.get())
      secs.updateWith(name) { prev => Some(prev.getOrElse(0.0) + self) }: Unit
      childSecs.set(outer + dt)
    }
  }

  @volatile private var keptRoot: Option[java.nio.file.Path] = None

  private lazy val tempRoot: java.nio.file.Path = {
    val root = java.nio.file.Files.createTempDirectory("graft-builds")
    sys.addShutdownHook(deleteTree(root.toFile)): Unit
    root
  }

  /** A fresh directory for a build's written state, named `prefix…`,
    * under one per-JVM root that is deleted when the JVM exits (or under
    * the root [[keepScratchIn]] named).
    */
  def scratch(prefix: String): String =
    java.nio.file.Files.createTempDirectory(keptRoot.getOrElse(tempRoot), prefix).toString

  /** Put every later [[scratch]] directory under `dir`, emptied first and
    * kept after exit: for a run whose outputs are read once the JVM is
    * gone ([[Verify]]'s oracle reads the IVF layout files).
    */
  def keepScratchIn(dir: String): Unit = {
    val root = java.nio.file.Paths.get(dir)
    deleteTree(root.toFile)
    keptRoot = Some(java.nio.file.Files.createDirectories(root))
  }

  private def deleteTree(f: java.io.File): Unit = {
    if (!java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete(): Unit
  }
}
