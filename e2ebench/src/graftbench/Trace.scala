package graftbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Task counters summed over the jobs one span submitted. */
final class Counters {
  var jobs = 0L
  var taskMs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var bytesWritten = 0L
  var bytesRead = 0L
}

/** Attributes every task to the span whose thread submitted its job.
  *
  * The span id travels as a job local property, which Spark copies onto
  * jobs submitted from helper threads too (broadcast builds, AQE stages).
  * Events arrive asynchronously on the listener bus, so the counters are
  * read only after `SparkContext.stop()`, which drains the bus.
  */
final class SpanListener extends SparkListener {
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val bySpan = mutable.Map.empty[Int, Counters]

  def snapshot: Map[Int, Counters] = synchronized(bySpan.toMap)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(Trace.Property))).foreach { s =>
      val id = s.toInt
      bySpan.getOrElseUpdate(id, new Counters).jobs += 1
      e.stageIds.foreach(stageSpan(_) = id)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageSpan.get(e.stageId).filter(_ => m != null).foreach { id =>
      val c = bySpan.getOrElseUpdate(id, new Counters)
      c.taskMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
      c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.bytesWritten += m.outputMetrics.bytesWritten
      c.bytesRead += m.inputMetrics.bytesRead
    }
  }
}

final case class SpanRec(id: Int, name: String, step: Int, startNs: Long,
                         endNs: Long, storageLeft: Long)

final case class StepRec(step: Int, traced: Boolean, wallNs: Long, compacted: Boolean)

/** In-memory spans around the harness's calls into each engine layer.
  *
  * With tracing off (`listener` absent, or a step run untraced) `span` is
  * just the body. A traced span sets the job property, times the body, then
  * records the persisted bytes still held (`getRDDStorageInfo`) after the
  * clock stops, so that query lands in the step's unattributed time.
  */
final class Trace(sc: SparkContext, enabled: Boolean) {
  private val listener = if (enabled) {
    val l = new SpanListener; sc.addSparkListener(l); Some(l)
  } else None
  private val spans = mutable.ArrayBuffer.empty[SpanRec]
  private val steps = mutable.ArrayBuffer.empty[StepRec]
  private var current = Trace.Untraced

  def on: Boolean = listener.isDefined

  /** Run one workload step (the warm-up has a negative id) and
    * record its wall time; spans inside it are recorded when `traced`.
    */
  def step[T](i: Int, traced: Boolean, compacted: Boolean = false)(body: => T): (T, Long) = {
    current = if (on && traced) i else Trace.Untraced
    val t0 = System.nanoTime()
    try {
      val r = body
      val ns = System.nanoTime() - t0
      steps += StepRec(i, on && traced, ns, compacted)
      (r, ns)
    } finally current = Trace.Untraced
  }

  def span[T](name: String)(body: => T): T =
    if (current == Trace.Untraced) body
    else {
      require(Trace.Spans.contains(name), s"unknown span $name")
      val id = spans.size
      sc.setLocalProperty(Trace.Property, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        sc.setLocalProperty(Trace.Property, null)
        spans += SpanRec(id, name, current, t0, t1, Trace.storedBytes(sc))
      }
    }

  /** Per-layer metrics, averaged per traced step of the phase the span ran
    * in: the timed steps, or for warm-up spans the one warm-up.
    * Call after `sc.stop()`.
    */
  def perLayer(): Map[String, Double] = {
    val counters = listener.map(_.snapshot).getOrElse(Map.empty[Int, Counters])
    val traced = steps.filter(s => s.traced && s.step >= 0)
    val tracedSetups = steps.count(s => s.traced && s.step < 0)
    val bySpan = spans.groupBy(_.name)
    val rows = Trace.Spans.flatMap { name =>
      val recs = bySpan.getOrElse(name, Seq.empty)
      val n = math.max(1, if (recs.exists(_.step >= 0)) traced.size else tracedSetups).toDouble
      val cs = recs.flatMap(r => counters.get(r.id))
      def sum(f: Counters => Long) = cs.map(f).sum.toDouble / n
      Seq(
        "self_s" -> recs.map(r => r.endNs - r.startNs).sum / 1e9 / n,
        "task_s" -> sum(_.taskMs) / 1e3,
        "gc_s" -> sum(_.gcMs) / 1e3,
        "jobs" -> sum(_.jobs),
        "shuffle_bytes" -> sum(_.shuffleBytes),
        "spill_bytes" -> sum(_.spillBytes),
        "bytes_written" -> sum(_.bytesWritten),
        "storage_left_bytes" -> recs.map(_.storageLeft).maxOption.getOrElse(0L).toDouble
      ).map { case (k, v) => s"$name.$k" -> v }
    }
    val n = math.max(1, traced.size).toDouble
    val wall = traced.map(_.wallNs).sum / 1e9 / n
    val covered = spans.filter(s => traced.exists(_.step == s.step))
      .map(r => r.endNs - r.startNs).sum / 1e9 / n
    def readPerOccurrence(name: String) = {
      val recs = bySpan.getOrElse(name, Seq.empty)
      if (recs.isEmpty) 0.0
      else recs.flatMap(r => counters.get(r.id)).map(_.bytesRead).sum.toDouble / recs.size
    }
    (rows ++ Seq(
      "trace.wall_s" -> wall,
      "trace.unattributed_s" -> (wall - covered),
      "streaming.probe_input_bytes" ->
        (readPerOccurrence("streaming.minhash.probe") + readPerOccurrence("streaming.exact.probe")),
      "streaming.compact.bytes_rewritten" -> readPerOccurrence("streaming.compact"),
      "tracing_overhead_s" -> overhead()
    )).toMap
  }

  /** Median traced step minus median untraced step, over timed steps that
    * ran no compaction (0 when either side has no such step).
    */
  private def overhead(): Double = {
    val plain = steps.filter(s => s.step >= 0 && !s.compacted)
    val (t, u) = plain.partition(_.traced)
    if (t.isEmpty || u.isEmpty) 0.0
    else (Stats.median(t.map(_.wallNs / 1e9).toSeq) - Stats.median(u.map(_.wallNs / 1e9).toSeq))
  }

  /** One JSON document with every span and step, for offline inspection. */
  def json(): String = {
    val counters = listener.map(_.snapshot).getOrElse(Map.empty[Int, Counters])
    val t0 = (spans.map(_.startNs) ++ Seq(Long.MaxValue)).min
    val sp = spans.map { r =>
      val c = counters.getOrElse(r.id, new Counters)
      s"""{"name":"${r.name}","step":${r.step},"start_s":${(r.startNs - t0) / 1e9},""" +
        s""""dur_s":${(r.endNs - r.startNs) / 1e9},"jobs":${c.jobs},"task_s":${c.taskMs / 1e3},""" +
        s""""gc_s":${c.gcMs / 1e3},"shuffle_bytes":${c.shuffleBytes},"spill_bytes":${c.spillBytes},""" +
        s""""bytes_written":${c.bytesWritten},"bytes_read":${c.bytesRead},"storage_left_bytes":${r.storageLeft}}"""
    }
    val st = steps.map(s =>
      s"""{"step":${s.step},"traced":${s.traced},"wall_s":${s.wallNs / 1e9},"compacted":${s.compacted}}""")
    s"""{"spans":[${sp.mkString(",\n")}],\n"steps":[${st.mkString(",\n")}]}\n"""
  }
}

object Trace {
  val Property = "graftbench.span"
  private val Untraced = Int.MinValue

  /** The layer spans, in the order the per-layer metrics list them. */
  val Spans: Seq[String] = Seq(
    "pipeline.bronze", "pipeline.silver", "pipeline.gold",
    "ext.quality_gate", "ext.exact_dedup", "ext.near_dedup", "io.split_write",
    "streaming.minhash.probe", "streaming.exact.probe", "ext.decontaminate",
    "io.decisions_write", "streaming.minhash.maintain", "streaming.exact.maintain",
    "streaming.compact")

  /** Memory plus disk bytes of every persisted RDD block still held. */
  def storedBytes(sc: SparkContext): Long =
    sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) 0.0 else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least ten samples above it, as
    * (value, percentile, samples). With ten samples or fewer no percentile
    * qualifies; the minimum is reported at percentile 0.
    */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) (0.0, 0.0, 0)
    else {
      val k = math.max(0, n - 11)
      (s(k), if (n > 10) math.floor(100.0 * (k + 1) / n) else 0.0, n)
    }
  }
}
