package graft.props

import java.io.File

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.StringType
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.forAllNoShrink

import graft.ext.AggLedger
import graft.streaming._

/** ONE crash/replay property for every ledger: the eight append-shaped
  * [[SegmentLedger]]s and the five whole-version [[VersionedLedger]]s.
  *
  * Each case drives a ledger through a generated stream of tiny batches
  * (some empty, so an empty batch must commit nothing) with these events
  * mixed in:
  *  - every ledger: at-least-once replays of committed batch ids, and a
  *    killed write — the batch's segment dirs left without `_SUCCESS`,
  *    and a versioned store rolled back to before the batch with its new
  *    version dir left without `_SUCCESS`; the stream's restart
  *    re-delivers that batch next;
  *  - segment ledgers: compactions, a killed compaction (merged segment
  *    committed, inputs not yet deleted) and a compaction killed mid-write
  *    (merged segment without `_SUCCESS`, inputs intact);
  *  - versioned ledgers: a kill after the version write but before the
  *    `_LATEST` flip (the version committed, the pointer still on the old
  *    one), a kill during the prune of old versions (some pruned dirs
  *    left), and a lost `_LATEST` pointer (a kill inside a flip that
  *    deletes the old pointer before it renames the new one), recovered
  *    from the highest committed version; the restart re-delivers that
  *    batch too.
  * It then asserts, for every case:
  *  - the ledger's logical content equals a clean sequential fold of the
  *    surviving batches into a fresh root;
  *  - every `maintain` leaves `getPersistentRDDs` as it found it;
  *  - segment ledgers: no live segment is read twice (one compact segment
  *    at most, every live batch above it), and the served scan touches
  *    live segments only.
  */
class LedgerProps extends graft.SparkSpec {
  import spark.implicits._

  private sealed trait Ev
  private case object Next extends Ev
  private case class Replay(pick: Int) extends Ev
  private case object KillWrite extends Ev
  private case object Compact extends Ev
  private case object KillCompact extends Ev
  private case object KillCompactWrite extends Ev
  private case object KillFlip extends Ev
  private case class KillPrune(spared: Int) extends Ev
  private case object LostPointer extends Ev

  private val words = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta")
  // a batch is 0-3 docs of 0-7 words, so some batches (or all their docs)
  // carry no state rows; the small vocabulary makes batches overlap
  private val batchGen: Gen[Seq[String]] =
    Gen.frequency(1 -> Gen.const(0), 3 -> Gen.choose(1, 3)).flatMap(n =>
      Gen.listOfN(n, Gen.choose(0, 7).flatMap(w =>
        Gen.listOfN(w, Gen.oneOf(words)).map(_.mkString(" ")))))
  private val deliveries: Seq[(Int, Gen[Ev])] =
    Seq(3 -> Gen.const(Next), 2 -> Gen.choose(0, 9).map(Replay(_)))
  private val segmentEvents = deliveries ++
    Seq(1 -> Gen.const(Compact), 2 -> Gen.const(KillCompact), 1 -> Gen.const(KillCompactWrite))
  private val versionedEvents = deliveries :+ (1 -> Gen.choose(0, 2).map(KillPrune(_)))
  private val versionedKills = Seq(KillWrite, KillFlip, LostPointer)

  /** One ledger under test. `segments` are its segment roots under
    * `root`; `versions` its versioned-state root, if it has one;
    * `compact` its compaction, if it has one; `events` and `kills` the
    * events its stream can meet.
    */
  private case class Case(name: String,
                          frame: Seq[(Long, String)] => DataFrame,
                          maintain: (DataFrame, Long, String) => Unit,
                          content: String => DataFrame,
                          segments: String => Seq[String] = _ => Nil,
                          versions: String => Option[String] = _ => None,
                          compact: Option[String => Unit] = None,
                          events: Seq[(Int, Gen[Ev])] = versionedEvents,
                          kills: Seq[Ev] = versionedKills)

  private def docs(ds: Seq[(Long, String)]): DataFrame = ds.toDF("doc_id", "text")

  private def segmentCase(name: String, l: SegmentLedger) =
    Case(name, docs, l.maintain, r => l.merge(l.serve(spark, r)), r => Seq(r),
      compact = Some(r => l.compact(spark, r): Unit), events = segmentEvents, kills = Seq(KillWrite))

  private def versionedCase(name: String, frame: Seq[(Long, String)] => DataFrame,
                            maintain: (DataFrame, Long, String) => Unit, serve: String => DataFrame) =
    Case(name, frame, maintain, serve, versions = r => Some(r))

  // two well-separated blobs, so every generated vector is in-distribution
  private def vectors(ds: Seq[(Long, String)]): DataFrame = ds.map { case (id, t) =>
    val j = (id % 5) * 0.01f
    (id, if (t.length % 2 == 0) Seq(1.0f, j, 0.0f) else Seq(j, 1.0f, 0.0f))
  }.toDF("vec_id", "embedding")

  private lazy val ivf = graft.ext.Similarity.ivfTrain(
    vectors((0L until 10L).map(i => (i, "x" * i.toInt))), nlist = 2, iters = 2)

  /** Consecutive word pairs of each doc: a doc of fewer than two words
    * has none.
    */
  private def wordPairs(ds: Seq[(Long, String)]): Seq[(String, String)] =
    ds.flatMap { case (_, t) => t.split(" ").filter(_.nonEmpty).sliding(2).collect { case Array(a, b) => (a, b) } }

  private def idEdges(ds: Seq[(Long, String)]): DataFrame =
    wordPairs(ds).map { case (a, b) => (words.indexOf(a).toLong, words.indexOf(b).toLong) }
      .toDF("doc_a", "doc_b")

  private def facts(ds: Seq[(Long, String)]): DataFrame =
    ds.map { case (id, t) => (id, t.takeWhile(_ != ' '), t.length.toDouble) }.toDF("id", "k", "v")

  private val cases = Seq(
    segmentCase("ExactDedup", ExactDedupLedgerStream),
    segmentCase("MinHash", MinHashLedgerStream.ledger()),
    segmentCase("SimHash", SimHashLedgerStream),
    segmentCase("Cdc", CdcLedgerStream),
    segmentCase("Vocab", VocabLedgerStream),
    segmentCase("Boiler", BoilerLedgerStream.ledger()),
    Case("Lm", docs, LmLedgerStream.maintain,
      r => {
        val (bi, uni) = LmLedgerStream.serve(spark, r)
        bi.select(lit("bi").as("store"), col("th2").as("key"), col("c2").as("cnt"))
          .unionByName(uni.select(lit("uni").as("store"), col("th1").as("key"), col("c1").as("cnt")))
      },
      r => Seq(s"$r/bi", s"$r/uni"), compact = Some(LmLedgerStream.compact(spark, _): Unit),
      events = segmentEvents, kills = Seq(KillWrite)),
    Case("VectorIndex", vectors,
      (df, id, r) => VectorIndexStream.maintain(df, id, r, ivf, 1.0, maxDriftRatio = 1e6),
      VectorIndexStream.serve(spark, _), r => Seq(r),
      compact = Some(r => VectorIndexStream.compact(spark, r): Unit),
      events = segmentEvents, kills = Seq(KillWrite)),
    versionedCase("Dedup", idEdges, DedupLedgerStream.maintain(_, _, _), DedupLedgerStream.serve(spark, _)),
    versionedCase("Index", docs, IndexLedgerStream.maintain(_, _, _), IndexLedgerStream.serve(spark, _)),
    versionedCase("Decontam", docs, DecontamLedgerStream.maintain(_, _, _),
      DecontamLedgerStream.ledger().serve(spark, _)),
    versionedCase("Agg", facts,
      (df, id, r) => AggLedger.maintain(df, id, r, Seq("k"), "v", streamId = Some("props")),
      AggLedger.serve(spark, _, Seq("k"), Seq(StringType))),
    // the content is both stores: the served scores and the edge multi-set.
    // A kill leaves the batch's edge dir without _SUCCESS, the state after
    // a kill inside the edge write, whatever an earlier attempt left in the
    // rounds store. No lost pointer: the rounds would then serve a batch
    // whose edge dir a later killed attempt left uncommitted, two stores
    // apart until the re-delivery, with no clean fold to compare against.
    Case("PageRank", ds => wordPairs(ds).toDF("src", "dst"),
      PageRankLedgerStream.maintain(_, _, _, iters = 3),
      r => PageRankLedgerStream.serve(spark, r, iters = 3)
        .select(lit("score").as("kind"), col("node").as("a"), col("score").cast("string").as("b"))
        .unionByName(PageRankLedgerStream.edges(spark, r)
          .select(lit("edge").as("kind"), col("src").as("a"), col("dst").as("b"))),
      r => Seq(s"$r/edges"), r => Some(s"$r/rounds"), kills = Seq(KillWrite, KillFlip)))

  // two deliveries first, so the compaction and prune events mostly have
  // inputs; most runs end in a kill, the state a reader sees before restart
  private def runGen(c: Case) = for {
    batches <- Gen.listOfN(8, batchGen)
    n <- Gen.choose(3, 6)
    mid <- Gen.listOfN(n, Gen.frequency(c.events ++ c.kills.map(k => 1 -> Gen.const(k)): _*))
    end <- Gen.frequency(1 -> Gen.const(Seq.empty[Ev]), 2 -> Gen.oneOf(c.kills).map(Seq(_)))
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

  /** A copy of `dir` (which may not exist yet) in a fresh scratch dir. */
  private def snapshot(dir: File): File = {
    val copy = new File(scratch("backup"), "d")
    if (dir.exists) FileUtils.copyDirectory(dir, copy)
    copy
  }

  /** Run `compact` as if killed after its merged segment was written:
    * every input it deleted is restored; `commit = false` also drops the
    * merged segment's `_SUCCESS` (killed before the commit).
    */
  private def killedCompaction(c: Case, root: String, commit: Boolean): Unit = {
    val rootF = new File(root)
    val backup = snapshot(rootF)
    val before = segDirs(rootF)
    val compactsBefore = committedCompacts(rootF)
    c.compact.foreach(_(root))
    before.filterNot(_.exists).foreach(d =>
      FileUtils.copyDirectory(new File(backup, rootF.toPath.relativize(d.toPath).toString), d))
    if (!commit) (committedCompacts(rootF) -- compactsBefore).foreach(d => new File(d, "_SUCCESS").delete())
  }

  /** Run `deliver` (batch `b`) as if killed by `kill`: its segment dirs
    * lose `_SUCCESS`, and the versioned store returns to its state before
    * the delivery except for the new version dir `v<b>`, which keeps
    * `_SUCCESS` when the kill came after the version write — before the
    * pointer flip (`KillFlip`), or inside it, the old pointer deleted
    * (`LostPointer`). Returns whether the served state now holds `b`: the
    * pointer is gone and `v<b>` is committed.
    */
  private def killedDelivery(c: Case, root: String, b: Int, kill: Ev)(deliver: => Unit): Boolean = {
    val store = c.versions(root).map(new File(_))
    val backup = store.map(snapshot)
    deliver
    segDirs(new File(root)).filter(_.getName == s"batch=$b").foreach(d => new File(d, "_SUCCESS").delete())
    for (v <- store; old <- backup) {
      val written = new File(v, s"v$b")
      val kept = new File(scratch("written"), "v")
      if (written.exists) FileUtils.moveDirectory(written, kept)
      FileUtils.deleteDirectory(v)
      if (old.exists) FileUtils.moveDirectory(old, v)
      if (kept.exists) {
        FileUtils.deleteDirectory(written) // an earlier attempt's v<b>
        FileUtils.moveDirectory(kept, written)
        if (kill == KillWrite) new File(written, "_SUCCESS").delete()
      }
      if (kill == LostPointer) new File(v, "_LATEST").delete()
    }
    store.exists(v => !new File(v, "_LATEST").exists && new File(v, s"v$b/_SUCCESS").exists)
  }

  /** Run `deliver` as if killed during the prune of old versions, after
    * the pointer flip: the version dirs it pruned come back except the
    * first `spared` of them.
    */
  private def killedPrune(c: Case, root: String, spared: Int)(deliver: => Unit): Unit = {
    val store = c.versions(root).map(new File(_))
    val backup = store.map(snapshot)
    deliver
    for (v <- store; old <- backup) {
      val pruned = Option(old.listFiles).toSeq.flatten
        .filter(d => d.getName.matches("v\\d+") && !new File(v, d.getName).exists).sortBy(_.getName)
      pruned.drop(spared).foreach(d => FileUtils.moveDirectory(d, new File(v, d.getName)))
    }
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  /** Folds batch `b` (doc ids unique per batch, content a pure function of
    * b), recording any change it makes to the persisted RDDs in `leaks`.
    */
  private def fold(c: Case, root: String, batches: Vector[Seq[String]], b: Int,
                   leaks: collection.mutable.Buffer[String]): Unit = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    c.maintain(c.frame(batches(b).zipWithIndex.map { case (t, i) => (b * 10L + i, t) }), b.toLong, root)
    val after = spark.sparkContext.getPersistentRDDs.keySet
    if (after != before) leaks += s"batch $b: RDDs ${(after -- before).mkString(",")} left, " +
      s"${(before -- after).mkString(",")} freed"
  }

  /** Replays `evs` against `c`; returns the ids of the surviving batches. */
  private def drive(c: Case, root: String, batches: Vector[Seq[String]], evs: Seq[Ev],
                    leaks: collection.mutable.Buffer[String]): Seq[Int] = {
    val survived = scala.collection.mutable.SortedSet.empty[Int]
    var next = 0
    var pending: Option[Int] = None // killed, so re-delivered first on restart
    def deliver(b: Int): Unit = fold(c, root, batches, b, leaks)
    def fresh(): Int = pending.getOrElse { next += 1; next - 1 }
    def more = next < batches.size || pending.nonEmpty
    evs.foreach {
      case Replay(pick) if pending.isEmpty && survived.nonEmpty =>
        deliver(survived.toSeq(pick % survived.size))
      case Next | Replay(_) if more =>
        val b = fresh(); deliver(b); survived += b; pending = None
      case k @ (KillWrite | KillFlip | LostPointer) if more =>
        val b = fresh()
        if (killedDelivery(c, root, b, k)(deliver(b))) survived += b else survived -= b
        pending = Some(b)
      case KillPrune(spared) if more =>
        val b = fresh(); killedPrune(c, root, spared)(deliver(b)); survived += b; pending = None
      case Compact => c.compact.foreach(_(root))
      case KillCompact => killedCompaction(c, root, commit = true)
      case KillCompactWrite => killedCompaction(c, root, commit = false)
      case _ => ()
    }
    survived.toSeq
  }

  private def holds(c: Case, batches: Vector[Seq[String]], evs: Seq[Ev]): Prop = {
    val root = scratch("prop") + "/st"
    val clean = scratch("clean") + "/st"
    val leaks = collection.mutable.Buffer.empty[String]
    val survived = drive(c, root, batches, evs, leaks)
    survived.foreach(fold(c, clean, batches, _, leaks))
    val served = c.content(root)
    val live = c.segments(root).map(SegmentStore.live(spark, _))
    val onceEach = live.forall { segs =>
      val (compacts, batchIds) = segs.map(_.split('/').last).partition(_.startsWith("compact="))
      val cid = compacts.map(_.stripPrefix("compact=").toLong).maxOption.getOrElse(-1L)
      compacts.size <= 1 && batchIds.forall(_.stripPrefix("batch=").toLong > cid)
    }
    def path(uri: String) = new java.net.URI(uri).getPath
    val scansLive = c.versions(root).nonEmpty ||
      served.inputFiles.forall(f => live.flatten.exists(s => path(f).startsWith(path(s) + "/")))
    (Prop(rows(served) == rows(c.content(clean))) :| "content == clean fold of the survivors") &&
      (Prop(leaks.isEmpty) :| s"maintain changed the persisted RDDs: ${leaks.mkString("; ")}") &&
      (Prop(onceEach) :| s"live segments $live") &&
      (Prop(scansLive) :| s"served scan reads only live segments $live")
  }

  cases.foreach { c =>
    val events =
      if (c.compact.nonEmpty) "replay, kill and compaction"
      else if (c.kills.contains(LostPointer)) "replay, kill, prune and lost pointer"
      else "replay, kill and prune"
    test(s"${c.name}: $events == clean fold") {
      val prop = forAllNoShrink(runGen(c)) { case (batches, evs) =>
        holds(c, batches, evs) :| s"events $evs over batches $batches"
      }
      val result = Test.check(Test.Parameters.default.withMinSuccessfulTests(5), prop)
      assert(result.passed, result.status.toString)
    }
  }
}
