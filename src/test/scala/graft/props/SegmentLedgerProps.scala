package graft.props

import java.io.File

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.forAllNoShrink

import graft.streaming._

/** ONE crash/replay property for every append-shaped ledger.
  *
  * Each case drives a ledger through a generated stream of tiny batches
  * with these events mixed in: at-least-once replays of committed batch
  * ids, empty batches, a killed write (the batch dir left without
  * `_SUCCESS`; the stream's restart re-delivers that batch next),
  * compactions, a killed compaction (merged segment committed, inputs not
  * yet deleted) and a compaction killed mid-write (merged segment without
  * `_SUCCESS`, inputs intact). It then asserts:
  *  - the ledger's logical content `merge(serve)` equals a clean sequential
  *    fold of the surviving batches into a fresh root;
  *  - no live segment is read twice: one compact segment at most, every
  *    live batch above it, and the served scan touches live segments only.
  */
class SegmentLedgerProps extends graft.SparkSpec {
  import spark.implicits._

  /** One ledger under test. `stores` are the segment roots under `root`. */
  private case class Case(name: String,
                          frame: Seq[(Long, String)] => DataFrame,
                          maintain: (DataFrame, Long, String) => Unit,
                          compact: String => Unit,
                          content: String => DataFrame,
                          stores: String => Seq[String] = r => Seq(r))

  private def docs(ds: Seq[(Long, String)]): DataFrame = ds.toDF("doc_id", "text")

  private def segmentCase(name: String, l: SegmentLedger) =
    Case(name, docs, l.maintain, r => l.compact(spark, r): Unit, r => l.merge(l.serve(spark, r)))

  // two well-separated blobs, so every generated vector is in-distribution
  private def vectors(ds: Seq[(Long, String)]): DataFrame = ds.map { case (id, t) =>
    val j = (id % 5) * 0.01f
    (id, if (t.length % 2 == 0) Seq(1.0f, j, 0.0f) else Seq(j, 1.0f, 0.0f))
  }.toDF("vec_id", "embedding")

  private lazy val ivf = graft.ext.Similarity.ivfTrain(
    vectors((0L until 10L).map(i => (i, "x" * i.toInt))), nlist = 2, iters = 2)

  private val cases = Seq(
    segmentCase("ExactDedup", ExactDedupLedgerStream),
    segmentCase("MinHash", MinHashLedgerStream.ledger()),
    segmentCase("SimHash", SimHashLedgerStream),
    segmentCase("Cdc", CdcLedgerStream),
    segmentCase("Vocab", VocabLedgerStream),
    segmentCase("Boiler", BoilerLedgerStream.ledger()),
    Case("Lm", docs, LmLedgerStream.maintain, LmLedgerStream.compact(spark, _),
      r => {
        val (bi, uni) = LmLedgerStream.serve(spark, r)
        bi.select(lit("bi").as("store"), col("th2").as("key"), col("c2").as("cnt"))
          .unionByName(uni.select(lit("uni").as("store"), col("th1").as("key"), col("c1").as("cnt")))
      },
      r => Seq(s"$r/bi", s"$r/uni")),
    Case("VectorIndex", vectors,
      (df, id, r) => VectorIndexStream.maintain(df, id, r, ivf, 1.0, maxDriftRatio = 1e6),
      r => VectorIndexStream.compact(spark, r): Unit, VectorIndexStream.serve(spark, _)))

  private sealed trait Ev
  private case object Next extends Ev
  private case class Replay(pick: Int) extends Ev
  private case object KillWrite extends Ev
  private case object Compact extends Ev
  private case object KillCompact extends Ev
  private case object KillCompactWrite extends Ev

  private val words = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta")
  // a batch is 0-3 docs of 0-7 words, so some batches (or all their docs)
  // carry no state rows; the small vocabulary makes batches overlap
  private val batchGen: Gen[Seq[String]] =
    Gen.frequency(1 -> Gen.const(0), 3 -> Gen.choose(1, 3)).flatMap(n =>
      Gen.listOfN(n, Gen.choose(0, 7).flatMap(w =>
        Gen.listOfN(w, Gen.oneOf(words)).map(_.mkString(" ")))))
  private val evGen: Gen[Ev] = Gen.frequency(
    3 -> Gen.const(Next), 2 -> Gen.choose(0, 9).map(Replay(_)), 1 -> Gen.const(KillWrite),
    1 -> Gen.const(Compact), 2 -> Gen.const(KillCompact), 1 -> Gen.const(KillCompactWrite))
  // two deliveries first, so the compaction events mostly have inputs; most
  // runs end in a killed write, the state a reader sees before restart
  private val runGen = for {
    batches <- Gen.listOfN(8, batchGen)
    n <- Gen.choose(3, 6)
    mid <- Gen.listOfN(n, evGen)
    end <- Gen.frequency(1 -> Seq.empty[Ev], 2 -> Seq(KillWrite))
  } yield (batches.toVector, Seq(Next, Next) ++ mid ++ end)

  /** Segment dirs (`batch=`/`compact=`) under `dir`, at any depth above them. */
  private def segDirs(dir: File): Seq[File] =
    Option(dir.listFiles).toSeq.flatten.filter(_.isDirectory).flatMap { d =>
      if (d.getName.startsWith("batch=") || d.getName.startsWith("compact=")) Seq(d)
      else segDirs(d)
    }

  private def committedCompacts(root: File): Set[File] =
    segDirs(root).filter(d => d.getName.startsWith("compact=") &&
      new File(d, "_SUCCESS").exists).toSet

  /** Run `compact` as if killed after its merged segment was written:
    * every input it deleted is restored; `commit = false` also drops the
    * merged segment's `_SUCCESS` (killed before the commit).
    */
  private def killedCompaction(c: Case, root: String, commit: Boolean): Unit = {
    val rootF = new File(root)
    val backup = java.nio.file.Files.createTempDirectory("seg-backup").toFile
    val before = segDirs(rootF)
    val compactsBefore = committedCompacts(rootF)
    before.foreach(d => FileUtils.copyDirectory(d, new File(backup, rootF.toPath.relativize(d.toPath).toString)))
    c.compact(root)
    before.filterNot(_.exists).foreach(d =>
      FileUtils.copyDirectory(new File(backup, rootF.toPath.relativize(d.toPath).toString), d))
    if (!commit) (committedCompacts(rootF) -- compactsBefore).foreach(d => new File(d, "_SUCCESS").delete())
    FileUtils.deleteQuietly(backup)
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  /** Folds batch `b` (doc ids unique per batch, content a pure function of b). */
  private def fold(c: Case, root: String, batches: Vector[Seq[String]], b: Int): Unit =
    c.maintain(c.frame(batches(b).zipWithIndex.map { case (t, i) => (b * 10L + i, t) }), b.toLong, root)

  /** Replays `evs` against `c`; returns the ids of the surviving batches. */
  private def drive(c: Case, root: String, batches: Vector[Seq[String]], evs: Seq[Ev]): Seq[Int] = {
    val survived = scala.collection.mutable.SortedSet.empty[Int]
    var next = 0
    var pending: Option[Int] = None // killed, so re-delivered first on restart
    def deliver(b: Int): Unit = fold(c, root, batches, b)
    def fresh(): Int = pending.getOrElse { next += 1; next - 1 }
    evs.foreach {
      case Replay(pick) if pending.isEmpty && survived.nonEmpty =>
        deliver(survived.toSeq(pick % survived.size))
      case Next | Replay(_) if next < batches.size || pending.nonEmpty =>
        val b = fresh(); deliver(b); survived += b; pending = None
      case KillWrite if next < batches.size || pending.nonEmpty =>
        val b = fresh(); deliver(b); pending = Some(b)
        segDirs(new File(root)).filter(_.getName == s"batch=$b")
          .foreach(d => new File(d, "_SUCCESS").delete())
      case Compact => c.compact(root)
      case KillCompact => killedCompaction(c, root, commit = true)
      case KillCompactWrite => killedCompaction(c, root, commit = false)
      case _ => ()
    }
    survived.toSeq
  }

  private def holds(c: Case, batches: Vector[Seq[String]], evs: Seq[Ev]): Prop = {
    val root = java.nio.file.Files.createTempDirectory("seg-prop").toString + "/st"
    val clean = java.nio.file.Files.createTempDirectory("seg-clean").toString + "/st"
    try {
      val survived = drive(c, root, batches, evs)
      survived.foreach(fold(c, clean, batches, _))
      val served = c.content(root)
      val live = c.stores(root).map(SegmentStore.live(spark, _))
      val onceEach = live.forall { segs =>
        val (compacts, batchIds) = segs.map(_.split('/').last).partition(_.startsWith("compact="))
        val cid = compacts.map(_.stripPrefix("compact=").toLong).maxOption.getOrElse(-1L)
        compacts.size <= 1 && batchIds.forall(_.stripPrefix("batch=").toLong > cid)
      }
      def path(uri: String) = new java.net.URI(uri).getPath
      val scansLive = served.inputFiles.forall(f => live.flatten.exists(s => path(f).startsWith(path(s) + "/")))
      (Prop(rows(served) == rows(c.content(clean))) :| "merge(serve) == clean fold of the survivors") &&
        (Prop(onceEach) :| s"live segments $live") &&
        (Prop(scansLive) :| s"served scan reads only live segments $live")
    } finally {
      FileUtils.deleteQuietly(new File(root).getParentFile)
      FileUtils.deleteQuietly(new File(clean).getParentFile)
    }
  }

  cases.foreach { c =>
    test(s"${c.name}: replay, kill and compaction == clean fold") {
      val prop = forAllNoShrink(runGen) { case (batches, evs) =>
        holds(c, batches, evs) :| s"events $evs over batches $batches"
      }
      val result = Test.check(Test.Parameters.default.withMinSuccessfulTests(5), prop)
      assert(result.passed, result.status.toString)
    }
  }
}
