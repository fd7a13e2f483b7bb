package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** WordPiece tokenizer TRAINING and encoding on Spark — the BERT-class
  * member of the tokenizer family beside [[Bpe]] (char merges),
  * [[ByteBpe]] (byte merges) and [[UnigramLm]] (likelihood pruning).
  * Training is BPE-shaped (Schuster & Nakajima 2012; the HuggingFace
  * `tokenizers` WordPiece trainer is the behavioural reference): symbols
  * start as the word's first character plus `##`-marked continuation
  * characters, and each round merges the adjacent pair maximizing the
  * LIKELIHOOD score `count(ab) / (count(a) · count(b))` instead of the
  * raw pair count. Encoding is NOT merge replay: a trained vocabulary is
  * matched greedily longest-prefix-first per word (max-munch), and a word
  * with an unmatchable position becomes the single `[UNK]` token.
  *
  * Scale design is [[Bpe]]'s: training iterates over the WORD-FREQUENCY
  * VOCABULARY, never the corpus — per round one pair-count aggregation,
  * one symbol-count aggregation (the score's denominator, re-counted each
  * round because merges change symbol occurrences), one broadcast-sized
  * collect of the round's top pairs. The trained model is `numMerges`
  * driver-side rows; the serving vocabulary adds the corpus alphabet
  * (alphabet-sized, the same bounded-model-state class as the IVF
  * centroids).
  *
  * Cross-engine exactness (the repo's no-libm rule): the score is the
  * one place a ratio is unavoidable, and it is computed as ONE correctly-
  * rounded IEEE operation on exact integers — `CAST(cnt AS DOUBLE) /
  * CAST(ca·cb AS DOUBLE)` — on BOTH engines. Integer→double conversion
  * and division are correctly rounded in IEEE-754, so the two engines
  * produce bit-identical doubles and therefore identical argmax rows
  * (ties fall to the lexicographic (sym_a, sym_b) order on both sides).
  * The emitted model carries only integers (cnt, ca, cb) — the double
  * never leaves the ORDER BY. Denominator bound: `ca·cb` must fit a
  * signed 64-bit integer (DuckDB errors on overflow where the JVM would
  * wrap); symbol counts are bounded by total corpus characters, so this
  * holds through ~3·10⁹-character corpora per count — far past the
  * fixture scales, and a pre-aggregated count cap is the documented
  * mitigation beyond that.
  *
  * Character handling: symbols are Unicode CODE POINTS (the [[Bpe]]
  * contract — DuckDB substr/length count code points, the JVM walks
  * codePointAt/charCount).
  */
object WordPiece {

  val Unk = "[UNK]"
  val Cont = "##"

  /** Longest word (in code points) the greedy tokenizer accepts — the
    * oracle unrolls exactly this many match steps, so the engine fails
    * loudly where the data enters instead of hash-mismatching (the
    * [[UnigramLm]] maxWordLen contract; fixture words max at 8).
    */
  val MaxWordLen = 16

  /** Word → WordPiece symbols: first code point plain, every later code
    * point `##`-marked. One-code-point words have no pairs and never
    * participate in a merge.
    */
  private[ext] def toSymbols(word: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < word.length) {
      val n = Character.charCount(word.codePointAt(i))
      val cp = word.substring(i, i + n)
      out += (if (i == 0) cp else Cont + cp)
      i += n
    }
    out.toSeq
  }

  /** (symbols, freq) vocabulary — the dataset training iterates on. */
  def symbolized(docs: DataFrame, textCol: String): Dataset[(Seq[String], Long)] = {
    val spark = docs.sparkSession
    import spark.implicits._
    Bpe.wordFreq(docs, textCol).as[(String, Long)]
      .map { case (w, f) => (toSymbols(w), f) }
  }

  /** One merge applied to one word's symbol sequence — [[Bpe.mergeWord]]
    * with the WordPiece join rule: the merged symbol is `a` followed by
    * `b` WITHOUT its continuation marker (`b` is always a continuation —
    * only the word-initial symbol is unmarked, so the second element of
    * any adjacent pair carries `##`). `a`'s own marker state is
    * preserved, keeping every symbol's position class intact.
    */
  private[ext] def mergeWord(syms: Seq[String], a: String, b: String): Seq[String] = {
    val merged = a + b.substring(Cont.length)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.size) {
      if (i + 1 < syms.size && syms(i) == a && syms(i + 1) == b) {
        out += merged; i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toSeq
  }

  /** Per-occurrence symbol counts over a symbolized vocab, weighted by
    * word freq — the score's denominator terms.
    */
  private def symbolCounts(vocab: Dataset[(Seq[String], Long)]): DataFrame = {
    val spark = vocab.sparkSession
    import spark.implicits._
    vocab.flatMap { case (syms, f) => syms.iterator.map(s => (s, f)) }
      .toDF("sym", "c")
      .groupBy(col("sym")).agg(sum(col("c")).as("c"))
  }

  /** Train `numMerges` merges; each returned row is
    * `(sym_a, sym_b, cnt, ca, cb)` — the pair's count and the two symbol
    * counts at merge time (the score `cnt/(ca·cb)` is derived, never
    * stored: the model stays all-integer). Stops early when the vocab
    * runs out of pairs. The loop is [[Bpe.mergeRounds]], ranked by score.
    *
    * `batch` is [[Bpe.train]]'s round compression ported to the
    * likelihood score (round-13 verdict: one distributed round per merge
    * makes a production 30k-merge vocabulary 30k Spark jobs). Why the
    * recorded `(cnt, ca, cb)` stay true at each pick's merge time: a merge
    * only touches occurrences of its own two symbols, and non-conflicting
    * picks share none — so neither a later pick's pair count nor its two
    * symbol counts (the score's denominator — the WordPiece-specific part
    * of the argument) can be changed by an earlier pick this round. Pairs
    * CREATED this round wait for the next round's count, so the merge
    * LIST may order differently than `batch = 1`.
    */
  def train(docs: DataFrame, textCol: String, numMerges: Int,
            batch: Int = 1): Seq[(String, String, Long, Long, Long)] =
    Bpe.mergeRounds(symbolized(docs, textCol), numMerges, batch)(
      (vocab, n) => {
        val sc = symbolCounts(vocab)
        Bpe.pairCounts(vocab)
          .join(sc.select(col("sym").as("sym_a"), col("c").as("ca")), Seq("sym_a"))
          .join(sc.select(col("sym").as("sym_b"), col("c").as("cb")), Seq("sym_b"))
          // ONE correctly-rounded IEEE divide on exact integers — identical
          // bits on both engines (see the object doc); the double is only
          // ever a sort key
          .orderBy((col("cnt").cast("double") / (col("ca") * col("cb")).cast("double")).desc,
            col("sym_a"), col("sym_b"))
          .select(col("sym_a"), col("sym_b"), col("cnt"), col("ca"), col("cb"))
          .limit(n).collect()
          .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
          .toSeq
      })(m => (m._1, m._2), mergeWord)

  /** Serving vocabulary: every symbol of the UNMERGED corpus (the
    * alphabet — word-initial and `##`-marked forms count separately, as
    * in a real WordPiece vocab file) plus each merge's joined symbol.
    * Bounded collect: alphabet size + numMerges rows.
    */
  def vocabulary(docs: DataFrame, textCol: String,
                 merges: Seq[(String, String, Long, Long, Long)]): Seq[String] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val alphabet = symbolized(docs, textCol)
      .flatMap(_._1).distinct().collect() // bounded: corpus alphabet
    (alphabet ++ merges.map { case (a, b, _, _, _) => a + b.substring(Cont.length) })
      .distinct.toSeq
  }

  /** Greedy longest-match-first encode of one word against a vocabulary
    * (HF WordPiece `max-munch`): at each position take the LONGEST vocab
    * piece matching the remaining prefix (`##`-marked past position 1);
    * any unmatchable position collapses the WHOLE word to `[UNK]`.
    */
  private[ext] def encodeWord(word: String, vocab: Set[String],
                              maxWordLen: Int = MaxWordLen): Seq[String] = {
    // code-point table so candidate lengths count what DuckDB substr counts
    val cps = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < word.length) {
      val n = Character.charCount(word.codePointAt(i))
      cps += word.substring(i, i + n)
      i += n
    }
    require(cps.size <= maxWordLen,
      s"wordpiece: word of ${cps.size} code points exceeds the tokenizer cap " +
        s"$maxWordLen — pre-split pathological tokens upstream")
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var pos = 0
    while (pos < cps.size) {
      var l = cps.size - pos
      var hit = -1
      while (l >= 1 && hit < 0) {
        val cand = (if (pos == 0) "" else Cont) + cps.slice(pos, pos + l).mkString
        if (vocab(cand)) hit = l else l -= 1
      }
      if (hit < 0) return Seq(Unk)
      out += (if (pos == 0) "" else Cont) + cps.slice(pos, pos + hit).mkString
      pos += hit
    }
    out.toSeq
  }

  /** Tokenize a corpus with a trained vocabulary: per document the word
    * count, total WordPiece token count, `[UNK]` word count (the OOV
    * signal beside [[ByteBpe.fallbackStats]]), and the first word's
    * segmentation. The vocab set broadcasts with the closure; the greedy
    * loop runs under `mapPartitions` with the per-partition word→tokens
    * memo ([[Bpe.tokenize]]'s Zipf amortization).
    */
  def tokenize(docs: DataFrame, idCol: String, textCol: String,
               vocab: Seq[String], maxWordLen: Int = MaxWordLen): DataFrame = {
    require(maxWordLen >= 1 && maxWordLen <= MaxWordLen,
      s"wordpiece: maxWordLen must be in [1, $MaxWordLen], got $maxWordLen")
    val spark = docs.sparkSession
    import spark.implicits._
    val vs = vocab.toSet
    val mwl = maxWordLen
    docs.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { it =>
        val memo = scala.collection.mutable.HashMap.empty[String, Seq[String]]
        it.map { case (id, text) =>
          val words = text.split(" ").filter(_.nonEmpty)
          val encoded = words.map(w => memo.getOrElseUpdate(w, encodeWord(w, vs, mwl)))
          (id, words.length, encoded.iterator.map(_.length).sum,
            encoded.count(_ == Seq(Unk)),
            encoded.headOption.map(_.mkString("|")).getOrElse(""))
        }
      }
      .toDF(idCol, "n_words", "n_wp_tokens", "n_unk_words", "first_word_tokens")
  }
}
