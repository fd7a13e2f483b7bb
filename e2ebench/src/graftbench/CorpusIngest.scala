package graftbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.{Decontaminate, ExactDedup, MinHashDedup, TextOps}
import graft.io.Sinks
import graft.ops.Sampling
import graft.pipeline.DataPrep
import graft.streaming.{ExactDedupLedgerStream, MinHashLedgerStream, SegmentStore}

/** `corpus_ingest`: the MinHash and exact-content ledgers in steady state.
  *
  * Set-up bootstraps both ledgers from a base corpus (three times, median
  * reported) and warms up one full ingest cycle on throwaway ledgers.
  *
  * A traced run also prepares the raw form of that base corpus (planted
  * copies and low-quality documents included) with DataPrep, once, cold,
  * in the warm-up, and checks that the result is exactly the base corpus.
  * This is the only place the corpus-wide MinHash banding self-join,
  * hash-first exact dedup and the split write run. DataPrep's four public
  * stages are composed exactly as `DataPrep.run` composes them, but each
  * stage is forced by its own parquet write so the trace can attribute it;
  * the result is also checked against `DataPrep.run` itself. Untraced runs
  * skip it to keep every run short.
  *
  * Each step is one new batch through the `x_pipeline_ingest` decision
  * (quality gate, both ledger probes, decontamination against a seeded eval
  * set), a decisions write, and both ledgers' `maintain`; every
  * `CompactEvery`-th batch also compacts both ledgers and is charged for it.
  * Planted duplicates point at documents already folded into the ledgers.
  * State grows over the run, and per-job fixed cost dominates, unlike the
  * one large medallion pass.
  */
final class CorpusIngest(spark: SparkSession, dir: String, seed: Long, withPrep: Boolean)
    extends Workload {
  // raw base corpus: 1500 documents of 60-100 words plus planted copies
  private val BaseDocs = 1500
  private val BaseExactRate = 0.05
  private val BaseNearRate = 0.08
  private val BatchDocs = 600
  private val NearRate = 0.2
  private val ExactRate = 0.05
  private val ContamRate = 0.03
  private val LowQualityRate = 0.03
  private val EvalDocs = 300
  private val VocabSize = 3000
  private val CompactEvery = 3
  private val MinScore = 3
  private val MinJaccard = 0.5
  private val prepCfg = DataPrep.Config()
  private val parts = spark.sparkContext.defaultParallelism

  private val gen = new Gen.Corpus(seed, VocabSize)
  private val folded = mutable.ArrayBuffer.empty[Gen.Doc] // clean fresh docs: dup targets
  private var nextId = 0L
  private var evalSet: IndexedSeq[Gen.Doc] = _
  private var inputBytes = 0L
  private var batches = 0

  private final case class Truth(exact: Set[Long], near: Set[Long], contam: Set[Long],
                                 lowQ: Set[Long])
  private val truth = mutable.Map.empty[Int, Truth]
  private var mhRoot, exRoot = ""
  private val prepared = s"$dir/prepared"
  private def batchPath(b: Int) = s"$dir/in/batch_$b"
  private val basePath = s"$dir/in/base"
  private val rawBasePath = s"$dir/in/base_raw"
  private val evalPath = s"$dir/in/eval"
  private var goodBase = Set.empty[Long]

  private def ids(n: Int) = { val s = nextId; nextId += n; s until nextId }

  def generate(): Seq[(String, Any)] = {
    evalSet = (0 until EvalDocs).map(i => gen.evalDoc(-1L - i))
    Gen.write(spark, evalSet, evalPath, 1)
    val (raw, jac) = rawBase()
    Gen.write(spark, raw, rawBasePath, parts)
    inputBytes = Gen.write(spark, folded.toSeq, basePath, parts)
    val w = new Gen.Corpus(seed ^ 0x5eed, VocabSize)
    Gen.write(spark, (0 until 200).map(i => w.fresh(i)), s"$dir/in/warm_batch", parts)
    Seq("base_docs" -> folded.size, "base_bytes" -> inputBytes, "raw_base_docs" -> raw.size,
      "raw_base_exact_dup_rate" -> (BaseDocs * BaseExactRate).toInt.toDouble / raw.size,
      "raw_base_near_dup_rate" -> (BaseDocs * BaseNearRate).toInt.toDouble / raw.size,
      "raw_base_near_dup_mean_jaccard" -> jac,
      "raw_base_low_quality_rate" -> (BaseDocs - goodBase.size).toDouble / raw.size,
      "batch_docs" -> BatchDocs, "eval_docs" -> EvalDocs, "vocab_size" -> VocabSize,
      "exact_dup_rate" -> ExactRate, "near_dup_rate" -> NearRate,
      "contamination_rate" -> ContamRate, "low_quality_rate" -> LowQualityRate,
      "compact_every" -> CompactEvery,
      "langs" -> gen.langs.map { case (l, sh, _) => s"$l:$sh" }.mkString(" "))
  }

  /** The raw base corpus: fresh and low-quality documents, plus exact and
    * near copies of fresh ones. Each original has at most one copy, and
    * copies get higher ids, so DataPrep's keep-smaller-id rules keep exactly
    * the good fresh documents, which are the base corpus itself (`folded`).
    * Returns the documents and the copies' mean shingle Jaccard.
    */
  private def rawBase(): (Seq[Gen.Doc], Double) = {
    val docs = mutable.ArrayBuffer.empty[Gen.Doc]
    ids(BaseDocs).foreach { id =>
      if (gen.nextInt(1000) < LowQualityRate * 1000) docs += gen.lowQuality(id)
      else { val d = gen.fresh(id); docs += d; folded += d }
    }
    val originals = gen.shuffled(folded.clone())
    val nExact = (BaseDocs * BaseExactRate).toInt
    val nNear = (BaseDocs * BaseNearRate).toInt
    originals.take(nExact).foreach(d => docs += gen.exactDup(d, ids(1).head))
    val jac = originals.slice(nExact, nExact + nNear).map { d =>
      val (nd, j) = gen.nearDup(d, ids(1).head, 1 + gen.nextInt(2))
      docs += nd; j
    }
    goodBase = folded.map(_.id).toSet
    (gen.shuffled(docs).toSeq, jac.sum / jac.size)
  }

  /** Writes batch `b` (1-based): fresh documents plus planted exact and near
    * copies of folded documents, contaminated and low-quality documents.
    */
  private def writeBatch(b: Int): Unit = {
    val docs = mutable.ArrayBuffer.empty[Gen.Doc]
    val (nE, nN, nC, nL) = Seq(ExactRate, NearRate, ContamRate, LowQualityRate)
      .map(r => (BatchDocs * r).toInt) match { case Seq(e, n, c, l) => (e, n, c, l) }
    def target() = folded(gen.nextInt(folded.size))
    val exact = ids(nE).map(id => gen.exactDup(target(), id))
    val near = ids(nN).map(id => gen.nearDup(target(), id, 1 + gen.nextInt(2))._1)
    val contam = ids(nC).map(id => gen.contaminated(id, evalSet(gen.nextInt(evalSet.size))))
    val lowQ = ids(nL).map(gen.lowQuality)
    val fresh = ids(BatchDocs - nE - nN - nC - nL).map(gen.fresh)
    docs ++= exact ++= near ++= contam ++= lowQ ++= fresh
    truth(b) = Truth(exact.map(_.id).toSet, near.map(_.id).toSet, contam.map(_.id).toSet,
      lowQ.map(_.id).toSet)
    inputBytes += Gen.write(spark, gen.shuffled(docs).toSeq, batchPath(b), parts)
    folded ++= fresh
  }

  /** Bootstraps fresh ledgers from the base corpus; the last repetition's
    * ledgers are the ones the run uses, the first one's host the warm-up.
    */
  override def setup(rep: Int): Unit = {
    mhRoot = s"$dir/ledgers$rep/minhash"
    exRoot = s"$dir/ledgers$rep/exact"
    val base = spark.read.parquet(basePath)
    MinHashLedgerStream.maintain(base, 0, mhRoot)
    ExactDedupLedgerStream.maintain(base, 0, exRoot)
  }

  /** In a traced run, DataPrep over the raw base corpus (cold, traced);
    * then one full ingest cycle, compaction included, on the first set-up
    * repetition's ledgers, which are thrown away with the second's.
    */
  def warmUp(t: Trace): Unit = {
    if (withPrep) prep(prepared, Some(t))
    ingest(spark.read.parquet(s"$dir/in/warm_batch"), 1, s"$dir/ledgers0/minhash",
      s"$dir/ledgers0/exact", s"$dir/warm_decisions", compact = true, None)
    (0 until Main.SetupReps - 1).foreach(r => deleteDir(s"$dir/ledgers$r"))
  }

  /** DataPrep's stages over the raw base corpus, each forced by a write. */
  private def prep(o: String, t: Option[Trace]): Unit = {
    def span(name: String)(body: => Unit): Unit = t.fold(body)(_.span(name)(body))
    span("ext.quality_gate") {
      Sinks.writeParquet(
        DataPrep.qualityGate(spark.read.parquet(rawBasePath), prepCfg.minScore), s"$o/gated")
    }
    span("ext.exact_dedup") {
      Sinks.writeParquet(DataPrep.dropExactDups(spark.read.parquet(s"$o/gated")), s"$o/exact")
    }
    span("ext.near_dedup") {
      Sinks.writeParquet(
        DataPrep.dropNearDups(spark.read.parquet(s"$o/exact"), prepCfg.nearDupJaccard),
        s"$o/near")
    }
    span("io.split_write") {
      Sinks.writeParquet(
        Sampling.splitByHash(spark.read.parquet(s"$o/near"), col("doc_id"),
          prepCfg.splitWeights, prepCfg.splitNames),
        s"$o/corpus", partitionBy = Seq("split"))
    }
    // the near-dup stage leaves its signatures persisted; the next pass has
    // the same plan and would otherwise reuse them instead of sketching
    spark.catalog.clearCache()
  }

  private def deleteDir(p: String): Unit = {
    val path = new org.apache.hadoop.fs.Path(p)
    path.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(path, true); ()
  }

  override def beforeStep(i: Int): Unit = writeBatch(i + 1)
  override def compacts(i: Int): Boolean = (i + 1) % CompactEvery == 0
  // whole compaction cycles only, so the median batch never compacts
  override def canStopAfter(i: Int): Boolean = compacts(i)
  override def traced(i: Int): Boolean = compacts(i) || i % 2 == 0

  def step(i: Int, t: Trace): Long = {
    val b = i + 1
    ingest(spark.read.parquet(batchPath(b)), b, mhRoot, exRoot, s"$dir/decisions",
      compacts(i), Some(t))
    batches = b
    BatchDocs
  }

  private def ingest(batch: DataFrame, b: Int, mh: String, ex: String, decisions: String,
                     compact: Boolean, t: Option[Trace]): Unit = {
    def span[T](name: String)(body: => T): T = t.fold(body)(_.span(name)(body))
    def materialized(df: DataFrame) = { df.persist(); df.count(); df }
    val novelMh = span("streaming.minhash.probe") {
      MinHashLedgerStream.probe(spark, mh, batch, minJaccard = MinJaccard)
    }
    val novelEx = span("streaming.exact.probe") {
      materialized(ExactDedupLedgerStream.probe(spark, ex, batch))
    }
    val dirty = span("ext.decontaminate") {
      materialized(Decontaminate.contaminated(batch, spark.read.parquet(evalPath))
        .select("doc_id"))
    }
    span("io.decisions_write") {
      val flags = batch
        .select(col("doc_id"),
          coalesce((TextOps.qualityScore("text") >= MinScore).cast("int"), lit(0)).as("quality_ok"))
        .join(novelMh.withColumn("novel", lit(1)), Seq("doc_id"), "left")
        .join(novelEx.withColumn("novel_exact", lit(1)), Seq("doc_id"), "left")
        .join(dirty.withColumn("dirty", lit(1)), Seq("doc_id"), "left")
        .select(col("doc_id"), col("quality_ok"),
          coalesce(col("novel"), lit(0)).as("novel"),
          coalesce(col("novel_exact"), lit(0)).as("novel_exact"),
          (lit(1) - coalesce(col("dirty"), lit(0))).as("clean"))
        .withColumn("keep", (col("quality_ok") * col("novel") * col("novel_exact") * col("clean")))
      Sinks.writeParquet(flags, s"$decisions/batch=$b")
    }
    Seq(novelMh, novelEx, dirty).foreach(_.unpersist())
    span("streaming.minhash.maintain") { MinHashLedgerStream.maintain(batch, b, mh) }
    span("streaming.exact.maintain") { ExactDedupLedgerStream.maintain(batch, b, ex) }
    if (compact) span("streaming.compact") {
      MinHashLedgerStream.compact(spark, mh); ExactDedupLedgerStream.compact(spark, ex); ()
    }
  }

  private final case class Decision(id: Long, qualityOk: Int, novel: Int, novelExact: Int, clean: Int)

  private def decisions(b: Int): Seq[Decision] =
    spark.read.parquet(s"$dir/decisions/batch=$b")
      .select("doc_id", "quality_ok", "novel", "novel_exact", "clean").collect().toSeq
      .map(r => Decision(r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4)))

  /** Every batch's decisions against the planted truth; on the first and
    * last batch both ledger probes against a from-scratch recompute over
    * every document folded before that batch; in a traced run, the prepared
    * raw base corpus against the base corpus and against `DataPrep.run`.
    */
  def checks(): Seq[(String, Boolean)] = {
    val prepChecks = if (!withPrep) Nil else {
      import spark.implicits._
      val corpus = spark.read.parquet(s"$prepared/corpus").select("doc_id", "split")
      val kept = corpus.select("doc_id").as[Long].collect().toSet
      val ref = DataPrep.run(spark, spark.read.parquet(rawBasePath), s"$dir/dataprep_run")
        .select("doc_id", "split")
      val sameAsRun = corpus.exceptAll(ref).isEmpty && ref.exceptAll(corpus).isEmpty
      spark.catalog.clearCache()
      // exactly the good fresh documents: every planted exact and near copy
      // and every low-quality document dropped
      Seq("prepared_is_base_corpus" -> (kept == goodBase),
        "prepared_same_as_dataprep_run" -> sameAsRun)
    }
    val perBatch = (1 to batches).map { b =>
      val tr = truth(b)
      val ds = decisions(b)
      ds.size == BatchDocs && ds.forall { d =>
        d.qualityOk == (if (tr.lowQ(d.id)) 0 else 1) &&
          d.novelExact == (if (tr.exact(d.id)) 0 else 1) &&
          d.clean == (if (tr.contam(d.id)) 0 else 1) &&
          (d.novel == 1 || tr.exact(d.id) || tr.near(d.id)) &&
          (d.novel == 0 || !tr.exact(d.id))
      }
    }
    val recompute = Seq(1, batches).distinct.filter(_ >= 1).flatMap { b =>
      val batch = spark.read.parquet(batchPath(b))
      val corpus = (basePath +: (1 until b).map(batchPath))
        .map(p => spark.read.parquet(p).select("doc_id", "text")).reduce(_ unionByName _)
      val ds = decisions(b)
      val mh = MinHashDedup.newAgainstCorpusMd5(batch, corpus, minJaccard = MinJaccard)
      val mhIds = mh.collect().map(_.getLong(0)).toSet
      mh.unpersist()
      val exIds = ExactDedup.newAgainstCorpus(batch, corpus).collect().map(_.getLong(0)).toSet
      Seq(s"batch${b}_minhash_probe_eq_recompute" -> (ds.filter(_.novel == 1).map(_.id).toSet == mhIds),
        s"batch${b}_exact_probe_eq_recompute" -> (ds.filter(_.novelExact == 1).map(_.id).toSet == exIds))
    }
    prepChecks ++
      Seq("batch_decisions_match_truth" -> (perBatch.nonEmpty && perBatch.forall(identity))) ++
      recompute
  }

  def bytesStoredPerInputByte(): Double =
    (Gen.bytesUnder(mhRoot) + Gen.bytesUnder(exRoot)).toDouble / inputBytes

  def nearDupRecall(): Double = {
    val flagged = (1 to batches).map { b =>
      val near = truth(b).near
      decisions(b).count(d => near(d.id) && d.novel == 0)
    }.sum
    flagged.toDouble / math.max(1, (1 to batches).map(truth(_).near.size).sum)
  }

  override def layerExtras(): Map[String, Double] = Map(
    "ext.near_dedup.pairs" -> (if (!withPrep) 0.0 else {
      val pairs = MinHashDedup.nearDuplicates(spark.read.parquet(s"$prepared/exact"),
        minJaccard = prepCfg.nearDupJaccard).count()
      spark.catalog.clearCache()
      pairs.toDouble
    }),
    "streaming.ledger_segments" ->
      (SegmentStore.live(spark, mhRoot).size + SegmentStore.live(spark, exRoot).size).toDouble)
}
