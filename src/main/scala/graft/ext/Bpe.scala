package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Materialize

/** Byte-pair-encoding tokenizer TRAINING and encoding on Spark — the
  * "train a tokenizer on the corpus you just cleaned" step of an LLM data
  * pipeline (Sennrich et al. 2016 shape: symbols start as characters plus
  * an end-of-word marker, then the most frequent adjacent symbol pair is
  * merged, repeatedly).
  *
  * Scale design: training never iterates over the CORPUS — it iterates
  * over the WORD-FREQUENCY VOCABULARY (distinct words + counts), which is
  * vocabulary-sized (≪ corpus; the one corpus-sized job is the initial
  * word count, a single keyed aggregation). Each merge round is one
  * map-over-vocab + one pair-count aggregation; the argmax pair is a
  * bounded single-row collect (count desc, then lexicographic — fully
  * deterministic), and the merge list itself is the model: `numMerges`
  * driver-side entries, the same bounded-model-state class as the IVF
  * centroids. Rounds localCheckpoint the vocab like the CC loop — an
  * iterative map otherwise stacks lineage per round.
  *
  * Character handling: symbols are Unicode CODE POINTS on both sides —
  * the JVM splitter walks `codePointAt`/`charCount` so an astral-plane
  * character (one code point, two UTF-16 code units) is ONE symbol,
  * matching the DuckDB oracle, whose substr/length already count
  * characters. Splitting on code units instead would break every
  * surrogate pair into two lone-surrogate symbols and diverge.
  */
object Bpe {

  val Eow = "</w>"

  /** Corpus → (word, freq): the only corpus-sized job in training. */
  def wordFreq(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(split(col(textCol), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))

  private def toSymbols(word: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < word.length) {
      val n = Character.charCount(word.codePointAt(i))
      out += word.substring(i, i + n)
      i += n
    }
    out += Eow
    out.toSeq
  }

  /** (symbols, freq) vocab — the dataset training iterates on. */
  def symbolized(docs: DataFrame, textCol: String): Dataset[(Seq[String], Long)] = {
    val spark = docs.sparkSession
    import spark.implicits._
    wordFreq(docs, textCol).as[(String, Long)]
      .map { case (w, f) => (toSymbols(w), f) }
  }

  /** Adjacent-pair counts over a symbolized vocab, weighted by word freq. */
  def pairCounts(vocab: Dataset[(Seq[String], Long)]): DataFrame = {
    val spark = vocab.sparkSession
    import spark.implicits._
    vocab.flatMap { case (syms, f) =>
      if (syms.size < 2) Iterator.empty
      else syms.sliding(2).map(p => (p(0), p(1), f))
    }.toDF("sym_a", "sym_b", "freq")
      .groupBy(col("sym_a"), col("sym_b"))
      .agg(sum(col("freq")).as("cnt"))
  }

  /** One merge applied to one word's symbol sequence (left-to-right,
    * non-overlapping — the standard rule: in "aaa" the pair (a,a) merges
    * the FIRST two, leaving (aa, a)).
    */
  private[ext] def mergeWord(syms: Seq[String], a: String, b: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.size) {
      if (i + 1 < syms.size && syms(i) == a && syms(i + 1) == b) {
        out += a + b; i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toSeq
  }

  /** Train `numMerges` merges. Returns them in rank order with the pair's
    * count at merge time. Stops early when no pair reaches `minCount`.
    */
  def train(docs: DataFrame, textCol: String, numMerges: Int,
            minCount: Long = 2L): Seq[(String, String, Long)] =
    trainOverVocab(symbolized(docs, textCol), numMerges, minCount)

  /** The merge-round loop over ANY symbolized vocab — shared by the
    * code-point trainer above and [[ByteBpe]]'s byte trainer (the symbol
    * alphabet is the only difference between the two tokenizers).
    */
  private[ext] def trainOverVocab(symVocab: Dataset[(Seq[String], Long)],
                                  numMerges: Int,
                                  minCount: Long): Seq[(String, String, Long)] = {
    require(numMerges >= 1, s"train: numMerges >= 1, got $numMerges")
    val spark = symVocab.sparkSession
    import spark.implicits._
    var vocab: Dataset[(Seq[String], Long)] = symVocab.localCheckpoint(true)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var round = 0
    var done = false
    while (round < numMerges && !done) {
      val top = pairCounts(vocab)
        .orderBy(col("cnt").desc, col("sym_a"), col("sym_b"))
        .limit(1).collect() // bounded: one row (the argmax pair)
      if (top.isEmpty || top(0).getLong(2) < minCount) done = true
      else {
        val (a, b, c) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((a, b, c))
        val prev = vocab
        vocab = vocab.map { case (syms, f) => (mergeWord(syms, a, b), f) }
          .localCheckpoint(true)
        // without this, every round's vocab snapshot stays pinned in
        // executor storage for the job
        Materialize.release(prev)
      }
      round += 1
    }
    Materialize.release(vocab)
    merges.toSeq
  }

  /** Batched training for REAL merge counts: [[train]] runs one
    * distributed job per merge — fine at 10 merges, but a 50k-merge
    * production tokenizer would mean 50k driver-round jobs. Per round,
    * take the top `batch` NON-CONFLICTING pairs (greedy down the
    * (cnt desc, sym_a, sym_b) order, skipping any pair sharing a symbol
    * with one already picked this round) and apply them IN RANK ORDER in
    * one vocab map pass. A merge cannot destroy occurrences of a pair it
    * shares no symbol with, so each picked pair's recorded count is its
    * true count at its merge time; it CAN create occurrences (when its
    * merged symbol string-equals a later pick's component), which the
    * fixed rank-order application resolves deterministically. The job
    * count drops from `numMerges` to ~`numMerges/batch`; the trade (the
    * standard one) is that pairs CREATED by this round's merges can't be
    * picked until next round, so the merge LIST may order differently
    * than strictly-sequential training where ranks interleave.
    * `batch = 1` is exactly [[train]] (pinned in BpeSpec).
    */
  def trainBatched(docs: DataFrame, textCol: String, numMerges: Int,
                   batch: Int = 16, minCount: Long = 2L): Seq[(String, String, Long)] = {
    require(numMerges >= 1 && batch >= 1,
      s"trainBatched: numMerges=$numMerges batch=$batch must be >= 1")
    val spark = docs.sparkSession
    import spark.implicits._
    var vocab: Dataset[(Seq[String], Long)] = symbolized(docs, textCol)
      .localCheckpoint(true)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var done = false
    while (merges.size < numMerges && !done) {
      val m = math.min(batch, numMerges - merges.size)
      // bounded collect: 4m candidate rows (model-state-sized) is plenty —
      // the greedy skip rate is < 2 symbols blocked per pick
      val cand = pairCounts(vocab)
        .filter(col("cnt") >= minCount)
        .orderBy(col("cnt").desc, col("sym_a"), col("sym_b"))
        .limit(4 * m).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      val used = scala.collection.mutable.HashSet.empty[String]
      val picked = cand.iterator.filter { case (a, b, _) =>
        if (used(a) || used(b)) false
        else { used += a; used += b; true }
      }.take(m).toSeq
      if (picked.isEmpty) done = true
      else {
        merges ++= picked
        val prev = vocab
        val ps = picked.map(p => (p._1, p._2))
        vocab = vocab.map { case (syms, f) =>
          (ps.foldLeft(syms) { case (s, (a, b)) => mergeWord(s, a, b) }, f)
        }.localCheckpoint(true)
        Materialize.release(prev)
      }
    }
    Materialize.release(vocab)
    merges.toSeq
  }

  /** Encode one word with a trained merge list (greedy lowest-rank-first —
    * the standard BPE encode loop). `ranks` maps pair → merge rank.
    */
  private[ext] def encodeWord(word: String, ranks: Map[(String, String), Int]): Seq[String] = {
    var syms = toSymbols(word)
    var continue = true
    while (continue && syms.size >= 2) {
      val best = syms.sliding(2)
        .flatMap(p => ranks.get((p(0), p(1))).map(r => ((p(0), p(1)), r)))
        .reduceOption((x, y) => if (y._2 < x._2) y else x)
      best match {
        case Some(((a, b), _)) => syms = mergeWord(syms, a, b)
        case None => continue = false
      }
    }
    syms
  }

  /** Tokenize a corpus with a trained merge list: (id, word-count,
    * bpe-token count, tokens of the first word — a spot-checkable sample).
    * The merge ranks broadcast with the closure (numMerges entries); the
    * greedy encode loop is the tokenizer hot path, so it runs under
    * `mapPartitions` with a per-partition word→tokens memo (Zipf corpora
    * re-encode the same few thousand words constantly; the memo is
    * bounded to the partition's distinct words, the same amortize-per-
    * partition discipline as the Multimodal codecs and
    * `TextOps.compressionStats`).
    */
  def tokenize(docs: DataFrame, idCol: String, textCol: String,
               merges: Seq[(String, String, Long)]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val ranks: Map[(String, String), Int] =
      merges.zipWithIndex.map { case ((a, b, _), i) => (a, b) -> i }.toMap
    docs.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { it =>
        val memo = scala.collection.mutable.HashMap.empty[String, Seq[String]]
        it.map { case (id, text) =>
          val words = text.split(" ").filter(_.nonEmpty)
          val encoded = words.map(w => memo.getOrElseUpdate(w, encodeWord(w, ranks)))
          (id, words.length, encoded.iterator.map(_.length).sum,
            encoded.headOption.map(_.mkString("|")).getOrElse(""))
        }
      }
      .toDF(idCol, "n_words", "n_bpe_tokens", "first_word_tokens")
  }
}
