package graftbench

import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** One workload: its inputs, its set-up, the repeated timed step and the
  * output checks. `step` returns the input rows (or documents) it consumed.
  */
trait Workload {
  /** Writes the seeded inputs; returns their properties for the run log. */
  def generate(): Seq[(String, Any)]
  /** Set-up repetition `rep` of the state the steps start from (the ledger
    * bootstrap). Timed `SetupReps` times, median reported; the last
    * repetition's state is the one the steps use.
    */
  def setup(rep: Int): Unit = ()
  /** The cold first pass, after the set-up repetitions, so the timed steps
    * run warm; timed once, as part of the set-up. Spans it opens on `t` are
    * traced in a traced run.
    */
  def warmUp(t: Trace): Unit
  /** Untimed preparation of step `i`'s input. */
  def beforeStep(i: Int): Unit = ()
  def step(i: Int, t: Trace): Long
  /** Whether step `i` is traced in a traced run; the rest measure the
    * untraced baseline the tracing overhead is taken against.
    */
  def traced(i: Int): Boolean = i % 2 == 0
  /** Whether step `i` ran a ledger compaction. */
  def compacts(i: Int): Boolean = false
  /** The loop may stop after step `i` once the time is up. */
  def canStopAfter(i: Int): Boolean = true
  /** Output checks, outside timing: (name, passed). */
  def checks(): Seq[(String, Boolean)]
  def bytesStoredPerInputByte(): Double
  def nearDupRecall(): Double
  /** Workload-specific per-layer metrics (trace runs only). */
  def layerExtras(): Map[String, Double] = Map.empty
}

object Main {
  val SetupReps = 3
  // a median of fewer steps is one sample or the mean of two
  val MinSteps = 3

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: String)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m("work"))
  }

  def log(msg: String): Unit = println(s"[bench] $msg")

  def json(kv: Seq[(String, Any)]): String = kv.map {
    case (k, v: String) => s""""$k":"$v""""
    case (k, v) => s""""$k":$v"""
  }.mkString("{", ",", "}")

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cpus = Runtime.getRuntime.availableProcessors.toString
    val t0 = System.nanoTime()
    val spark = graft.GraftSession.builder(cpus)
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"${a.work}/hadoop-tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val trace = new Trace(spark.sparkContext, a.trace)
    val w: Workload = a.workload match {
      case "medallion_batch" => new Medallion(spark, a.work, a.seed)
      case "corpus_ingest" => new CorpusIngest(spark, a.work, a.seed, a.trace)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val g0 = System.nanoTime()
    val props = w.generate()
    log(s"generated inputs in ${(System.nanoTime() - g0) / 1e9} s (outside every metric)")
    println(s"[gen] ${json(("workload" -> a.workload) +: ("seed" -> a.seed) +: props)}")

    val setups = (0 until SetupReps).map { r =>
      val s0 = System.nanoTime(); w.setup(r); (System.nanoTime() - s0) / 1e9
    }
    val warmS = trace.step(-1, traced = true)(w.warmUp(trace))._2 / 1e9
    val setupS = sessionS + warmS + Stats.median(setups)
    log(f"session $sessionS%.3f s, set-up reps ${setups.map(s => f"$s%.3f").mkString(" ")} s, " +
      f"warm-up $warmS%.3f s")

    var attempted, failed = 0
    var consecutiveFails = 0
    val lat = mutable.ArrayBuffer.empty[Double]
    var rows = 0L
    var measured = 0.0
    var i = 0
    var done = false
    var genS = 0.0
    while (!done) {
      val g1 = System.nanoTime()
      w.beforeStep(i)
      genS += (System.nanoTime() - g1) / 1e9
      attempted += 1
      val traced = w.traced(i)
      try {
        val (n, ns) = trace.step(i, traced, w.compacts(i))(w.step(i, trace))
        lat += ns / 1e9; rows += n; measured += ns / 1e9
        consecutiveFails = 0
        log(f"step $i ${ns / 1e9}%.3f s${if (a.trace && traced) " traced" else ""}")
      } catch {
        case NonFatal(e) =>
          failed += 1; consecutiveFails += 1
          log(s"step $i FAILED: $e")
      }
      done = consecutiveFails >= 3 ||
        (measured >= a.seconds && lat.size >= MinSteps && w.canStopAfter(i))
      i += 1
    }

    if (genS > 0) log(s"generated step inputs in $genS s (outside every metric)")
    val checks = try w.checks() catch {
      case NonFatal(e) => log(s"checks FAILED: $e"); Seq("checks_ran" -> false)
    }
    checks.foreach { case (n, ok) => log(s"check $n: ${if (ok) "ok" else "FAILED"}") }
    attempted += checks.size
    failed += checks.count(!_._2)

    val e2e = Seq(
      "rows_per_s" -> (rows / math.max(lat.sum, 1e-9), "1/s"),
      "batch_p50_s" -> (Stats.median(lat.toSeq), "s"),
      "setup_s" -> (setupS, "s"),
      "bytes_stored_per_input_byte" -> (w.bytesStoredPerInputByte(), "B/B"),
      "near_dup_recall" -> (w.nearDupRecall(), "share"),
      "peak_rss_mb" -> (peakRssMb(), "MB"),
      "ok_op_share" -> (1.0 - failed.toDouble / attempted, "share"))
    val extras = if (a.trace) w.layerExtras() else Map.empty[String, Double]
    val (tailS, tailPct, tailN) = Stats.tail(lat.toSeq)
    spark.stop()

    val metrics: Seq[(String, (Double, String))] =
      if (!a.trace) e2e
      else {
        val layer = trace.perLayer() ++ extras ++ Map(
          "streaming.batch_tail_s" -> (if (a.workload == "corpus_ingest") tailS else 0.0),
          "streaming.batch_tail_pct" -> (if (a.workload == "corpus_ingest") tailPct else 0.0),
          "streaming.batch_tail_samples" -> (if (a.workload == "corpus_ingest") tailN.toDouble else 0.0))
        val tracePath = s"${a.work}/trace.json"
        java.nio.file.Files.writeString(java.nio.file.Paths.get(tracePath), trace.json())
        log(s"trace written to $tracePath")
        Layers.all.map { case (name, unit) => name -> (layer.getOrElse(name, 0.0), unit) }
      }
    val body = metrics.map { case (k, (v, u)) =>
      val num = if (v.isNaN || v.isInfinite) "0.0" else v.toString
      s""""$k":{"value":$num,"unit":"$u"}"""
    }.mkString("{", ",", "}")
    val ok = failed == 0
    println(s"""RESULT {"correct":$ok,"attempted":$attempted,"failed":$failed,"metrics":$body}""")
  }

  /** The process's peak resident set (`VmHWM`), in MiB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }
}

/** Names and units of every per-layer metric, in the order of BENCHMARK.json. */
object Layers {
  private val counters = Seq("self_s" -> "s", "task_s" -> "s", "gc_s" -> "s",
    "jobs" -> "count", "shuffle_bytes" -> "B", "spill_bytes" -> "B",
    "bytes_written" -> "B", "storage_left_bytes" -> "B")

  val all: Seq[(String, String)] =
    Trace.Spans.flatMap(s => counters.map { case (c, u) => s"$s.$c" -> u }) ++ Seq(
      "pipeline.silver.dedup_ratio" -> "ratio",
      "ext.near_dedup.pairs" -> "count",
      "streaming.ledger_segments" -> "count",
      "streaming.probe_input_bytes" -> "B",
      "streaming.compact.bytes_rewritten" -> "B",
      "streaming.batch_tail_s" -> "s",
      "streaming.batch_tail_pct" -> "%",
      "streaming.batch_tail_samples" -> "count",
      "tracing_overhead_s" -> "s",
      "trace.wall_s" -> "s",
      "trace.unattributed_s" -> "s")
}
