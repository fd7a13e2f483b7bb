package graft

import java.io.File
import java.nio.file.{Files, Path}

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole test run (sessions are expensive;
  * suites must not stop it). Its warehouse sits under the per-JVM build
  * root, which is deleted at exit.
  */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.builder("4")
    .appName("graft-test")
    .config("spark.sql.warehouse.dir", Build.scratch("graft-warehouse"))
    .getOrCreate()
}

trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = {
    val s = TestSpark.spark
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private var scratchRoot: Option[Path] = None
  private var graftDirsBefore = Set.empty[String]

  private def graftDirs: Set[String] =
    Option(new File(System.getProperty("java.io.tmpdir")).listFiles).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("graft-")).map(_.getName).toSet

  /** A fresh directory named `prefix…` under this suite's one scratch
    * root, which is deleted after the suite.
    */
  def scratch(prefix: String): String = synchronized {
    val root = scratchRoot.getOrElse {
      val r = Files.createTempDirectory(s"graft-${getClass.getSimpleName}-")
      scratchRoot = Some(r)
      r
    }
    Files.createTempDirectory(root, prefix).toString
  }

  override protected def beforeAll(): Unit = {
    super.beforeAll()
    spark // the session's own directories predate every suite
    graftDirsBefore = graftDirs
  }

  /** Deletes the scratch root. A suite must leave no other `graft-*`
    * directory behind in the temp dir; the per-JVM build root
    * (`graft-builds…`, deleted at exit) is the one exemption.
    */
  override protected def afterAll(): Unit =
    try super.afterAll()
    finally {
      scratchRoot.foreach(r => FileUtils.deleteDirectory(r.toFile))
      val left = (graftDirs -- graftDirsBefore).filterNot(_.startsWith("graft-builds"))
      assert(left.isEmpty, s"${getClass.getSimpleName} left temp dirs behind: ${left.mkString(", ")}")
    }

  /** The ids of the RDDs the session holds persisted or checkpointed. */
  protected def cached: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** `body`'s result and the number of Spark jobs it submitted whose call
    * site (an [[Obs.Job]] label, e.g. "count at X.scala:12") passes
    * `callSite`.
    */
  protected def jobsDuring[T](body: => T, callSite: String => Boolean = _ => true): (T, Int) = {
    val (r, rec) = Obs.measure(spark, "jobs-during")(body)
    (r, rec.jobRows.count(j => callSite(j.site)))
  }
}
