package graft

import java.io.File
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.commons.io.FileUtils
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole test run (sessions are expensive;
  * suites must not stop it).
  */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.builder("4")
    .appName("graft-test")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
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

  /** Deletes the scratch root. A suite that writes through [[scratch]]
    * must leave no other `graft-*` directory behind in the temp dir.
    */
  override protected def afterAll(): Unit =
    try super.afterAll()
    finally scratchRoot.foreach { r =>
      FileUtils.deleteDirectory(r.toFile)
      val left = graftDirs -- graftDirsBefore
      assert(left.isEmpty, s"${getClass.getSimpleName} left temp dirs behind: ${left.mkString(", ")}")
    }

  private val JobTag = "graft.test.jobs-during"

  /** `body`'s result and the number of Spark jobs it submitted; waits for
    * the listener bus to deliver them by running one marker job after it.
    * Only jobs whose SQL execution's call site (e.g. "count at
    * X.scala:12"; empty outside any execution) passes `callSite` count.
    */
  protected def jobsDuring[T](body: => T, callSite: String => Boolean = _ => true): (T, Int) = {
    val sc = spark.sparkContext
    val inBody = new AtomicInteger
    val markers = new AtomicInteger
    val sites = new ConcurrentHashMap[String, String] // SQL execution id -> call site
    def counted(e: SparkListenerJobStart) = callSite(
      Option(e.properties.getProperty(SQLExecution.EXECUTION_ID_KEY)).flatMap(id => Option(sites.get(id))).getOrElse(""))
    val l = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => sites.put(s.executionId.toString, s.description)
        case _ => ()
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(JobTag))) match {
          case Some("body") if counted(e) => inBody.incrementAndGet()
          case Some("marker") => markers.incrementAndGet()
          case _ => ()
        }
    }
    sc.addSparkListener(l)
    try {
      sc.setLocalProperty(JobTag, "body")
      val r = try body finally sc.setLocalProperty(JobTag, "marker")
      try spark.range(1).count() finally sc.setLocalProperty(JobTag, null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (markers.get == 0 && System.nanoTime() < deadline) Thread.sleep(10)
      assert(markers.get > 0, "listener bus did not deliver the marker job")
      (r, inBody.get)
    } finally sc.removeSparkListener(l)
  }
}
