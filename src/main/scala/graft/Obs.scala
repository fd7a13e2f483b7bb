package graft

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.{GraftListenerBridge, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** The engine's span record: what one block of driver code cost in Spark
  * jobs, tasks, shuffle, spill, I/O and storage.
  *
  *  - Attribution: the span's id travels as a job local property, which
  *    Spark copies onto jobs submitted from helper threads too (broadcast
  *    builds, AQE stages), so every job, stage and task the body causes
  *    counts in its record, and a job another thread runs meanwhile does
  *    not. A span opened inside another span takes the jobs of its body
  *    away from the outer one.
  *  - Jobs: one row per job, in submission order, labelled with the call
  *    site of its SQL execution (`count at X.scala:12`), or with the call
  *    site of its last stage for a job outside any execution.
  *  - Drain: the counters are read once the listener bus has delivered
  *    every event the body's jobs posted, so measuring submits no job.
  *  - Storage and builds: after the clock stops, the record takes the
  *    persisted bytes still held (memory plus disk of every cached RDD)
  *    and the [[Build.times]] the body added.
  *  - The listener registers on a `SparkContext` at its first [[measure]];
  *    a session that never measures runs without it.
  */
object Obs {

  /** One job of a span: its stage count, the task time and the shuffle
    * records its stages wrote.
    */
  final case class Job(id: Int, site: String, stages: Int, taskS: Double, shuffleRecords: Long)

  final case class Record(name: String, wallS: Double, jobRows: Seq[Job], taskS: Double,
                          gcS: Double, shuffleBytes: Long, shuffleRecords: Long,
                          spillBytes: Long, bytesRead: Long, bytesWritten: Long,
                          storageLeftBytes: Long, storageLeftRdds: Int,
                          builds: Map[String, Double]) {
    def jobs: Int = jobRows.size

    /** The counters by their span-file names, `dur_s` first. */
    def counters: Seq[(String, Any)] = Seq(
      "dur_s" -> wallS, "jobs" -> jobs, "task_s" -> taskS, "gc_s" -> gcS,
      "shuffle_bytes" -> shuffleBytes, "shuffle_records" -> shuffleRecords,
      "spill_bytes" -> spillBytes, "bytes_read" -> bytesRead, "bytes_written" -> bytesWritten,
      "storage_left_bytes" -> storageLeftBytes, "storage_left_rdds" -> storageLeftRdds)
  }

  /** The job local property that names the open span. */
  val Property = "graft.obs.span"

  private val DrainTimeoutMs = 30000L
  private val nextId = new AtomicLong
  private var installed: Option[(SparkContext, Listener)] = None

  /** Run `body` as the span `name`; its result and its record. A body
    * that throws leaves the property as it found it and records nothing.
    */
  def measure[T](spark: SparkSession, name: String)(body: => T): (T, Record) = {
    val sc = spark.sparkContext
    val l = listenerOf(sc)
    val id = nextId.incrementAndGet().toString
    val outer = sc.getLocalProperty(Property)
    val builds0 = Build.times
    l.open(id)
    sc.setLocalProperty(Property, id)
    val t0 = System.nanoTime()
    val r =
      try body
      catch { case e: Throwable => l.close(id); throw e }
      finally sc.setLocalProperty(Property, outer)
    val wall = (System.nanoTime() - t0) / 1e9
    val builds = Build.times.collect {
      case (k, v) if !builds0.get(k).contains(v) => k -> (v - builds0.getOrElse(k, 0.0))
    }
    GraftListenerBridge.drain(sc, DrainTimeoutMs)
    val jobs = l.close(id)
    def sum(f: Acc => Long) = jobs.map(f).sum
    val held = sc.getRDDStorageInfo
    (r, Record(name, wall, jobs.map(_.row).toSeq, sum(_.taskMs) / 1e3, sum(_.gcMs) / 1e3,
      sum(_.shuffleBytes), sum(_.shuffleRecords), sum(_.spillBytes), sum(_.bytesRead),
      sum(_.bytesWritten), held.map(i => i.memSize + i.diskSize).sum, held.length, builds))
  }

  private def listenerOf(sc: SparkContext): Listener = synchronized {
    installed.collect { case (c, l) if c eq sc => l }.getOrElse {
      val l = new Listener
      sc.addSparkListener(l)
      installed = Some(sc -> l)
      l
    }
  }

  /** Task counters of one job. */
  private final class Acc(id: Int, site: String, stages: Int) {
    var taskMs, gcMs, shuffleBytes, shuffleRecords, spillBytes, bytesRead, bytesWritten = 0L
    def row: Job = Job(id, site, stages, taskMs / 1e3, shuffleRecords)
  }

  /** Sums task metrics per open span. Events arrive on the listener bus
    * thread; [[measure]] opens and closes spans from its caller's.
    */
  private final class Listener extends SparkListener {
    private val spans = mutable.Map.empty[String, mutable.ArrayBuffer[Acc]] // open span -> its jobs
    private val stageJob = mutable.Map.empty[Int, Acc]
    private val sites = mutable.Map.empty[Long, String] // SQL execution id -> call site

    def open(id: String): Unit = synchronized { spans(id) = mutable.ArrayBuffer.empty }

    /** The span's jobs; later events of its stages are dropped. */
    def close(id: String): Seq[Acc] = synchronized {
      val jobs = spans.remove(id).getOrElse(mutable.ArrayBuffer.empty)
      val closed = jobs.toSet
      stageJob.filterInPlace { case (_, j) => !closed(j) }
      jobs.toSeq
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
      e match {
        case x: SparkListenerSQLExecutionStart => sites(x.executionId) = x.description
        case x: SparkListenerSQLExecutionEnd => sites.remove(x.executionId): Unit
        case _ => ()
      }
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val props = Option(e.properties)
      for (id <- props.flatMap(p => Option(p.getProperty(Property))); jobs <- spans.get(id)) {
        val site = props.flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
          .flatMap(x => sites.get(x.toLong))
          .getOrElse(e.stageInfos.maxByOption(_.stageId).map(_.name).getOrElse(""))
        val job = new Acc(e.jobId, site, e.stageIds.size)
        jobs += job
        e.stageIds.foreach(stageJob(_) = job)
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      for (j <- stageJob.get(e.stageId) if m != null) {
        j.taskMs += m.executorRunTime
        j.gcMs += m.jvmGCTime
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        j.bytesRead += m.inputMetrics.bytesRead
        j.bytesWritten += m.outputMetrics.bytesWritten
      }
    }
  }
}
