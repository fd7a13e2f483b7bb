package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Materialize

/** Unigram-LM (SentencePiece-style) tokenizer TRAINING and encoding on
  * Spark — the other half of the tokenizer family beside [[Bpe]]
  * (Kudo 2018, arXiv:1804.10959 shape): seed a piece vocabulary from
  * substring counts, then alternate Viterbi segmentation of the word
  * vocabulary (E-step) with piece-count re-estimation and pruning
  * (M-step). This implementation is the hard-EM (Viterbi-EM) variant —
  * each word commits to its single best segmentation per round — which
  * keeps every distributed quantity an exact integer.
  *
  * Scale design (the [[Bpe]] recipe): training never iterates the CORPUS —
  * the one corpus-sized job is the initial word-frequency aggregation;
  * every EM round is ONE map over the vocabulary (Viterbi per distinct
  * word, scores broadcast with the closure) + one piece-keyed count
  * aggregation whose result is BOUNDED by the piece vocabulary (collected
  * as model state, like the IVF centroids and the BPE merge list).
  *
  * Determinism / oracle-ability: Viterbi maximizes Σ score(piece) with
  * ties broken by the SMALLER boundary BITMASK (bit i−1 set ⟺ a piece
  * ends at character i). The mask tiebreak is prefix-monotone — appending
  * an identical suffix adds identical high bits, preserving the integer
  * comparison — so dynamic programming over (score, mask) is exact. Piece
  * scores are integer surrogate log-probs floor(1e6 · ln(cnt_eff / T))
  * computed DRIVER-SIDE once per round and then FROZEN as model literals
  * (the trained-centroid oracle pattern): `ln` never crosses engines —
  * the DuckDB oracle re-runs the E-step as an unrolled integer DP over
  * the frozen literals, so segmentation, counting, and pruning are all
  * hash-matched while the one transcendental stays in one engine.
  *
  * Character handling: pieces are Unicode CODE POINTS (the [[Bpe]]
  * contract — DuckDB substr/length count code points). Words are capped
  * at 63 code points so the boundary mask fits a long; [[train]] fails
  * loudly on longer words (cite: real tokenizer pipelines pre-split such
  * tokens; the corpus fixture maxes at 8).
  */
object UnigramLm {

  /** Trained model state: `singles` is the character alphabet (always
    * retained — full segmentation coverage), `rounds(r)` the piece table
    * after round r as (piece, count, scoreInt); rounds(0) is the seed.
    */
  final case class UnigramModel(singles: Seq[String],
                                rounds: Seq[Seq[(String, Long, Long)]]) {
    def finalPieces: Seq[(String, Long, Long)] = rounds.last
    def finalScores: Map[String, Long] =
      rounds.last.map(t => t._1 -> t._3).toMap
  }

  val MaxWordLen = 63 // boundary mask must fit one long

  /** Seed piece table (piece, cnt): every substring of length ≤
    * `maxPieceLen` of every vocabulary word, counted over OVERLAPPING
    * occurrences weighted by word frequency; selected = all single
    * characters (coverage) ∪ the top `seedSize` by (cnt desc, piece asc).
    * One vocabulary-sized aggregation + a global top-k — fully
    * SQL-expressible, so the seed stage has its own static oracle.
    */
  def seedPieces(docs: DataFrame, textCol: String,
                 maxPieceLen: Int = 4, seedSize: Int = 120): DataFrame =
    seedPiecesOverFreq(Bpe.wordFreq(docs, textCol), maxPieceLen, seedSize)

  /** Viterbi segmentation of one word: returns (total score, boundary
    * mask). Maximizes Σ score with the smaller mask breaking ties (see
    * the class doc for why that tiebreak is DP-safe). Throws on an
    * unsegmentable word — cannot happen when `scores` retains the
    * training alphabet and the word comes from the training corpus.
    */
  private[ext] def viterbi(word: String, scores: Map[String, Long],
                           maxPieceLen: Int): (Long, Long) = {
    val cps = word.codePoints.toArray
    val n = cps.length
    require(n >= 1 && n <= MaxWordLen,
      s"unigram: word length must be in [1, $MaxWordLen] code points, got $n")
    val sc = Array.fill(n + 1)(Long.MinValue)
    val mk = new Array[Long](n + 1)
    sc(0) = 0L
    var i = 1
    while (i <= n) {
      var j = math.max(0, i - maxPieceLen)
      while (j < i) {
        if (sc(j) != Long.MinValue) {
          scores.get(new String(cps, j, i - j)) match {
            case Some(s) =>
              val cs = sc(j) + s
              val cm = mk(j) | (1L << (i - 1))
              if (cs > sc(i) || (cs == sc(i) && cm < mk(i))) {
                sc(i) = cs; mk(i) = cm
              }
            case None => ()
          }
        }
        j += 1
      }
      i += 1
    }
    if (sc(n) == Long.MinValue)
      throw new IllegalArgumentException(
        s"unigram: word '$word' not segmentable — the piece table lost " +
          "part of its alphabet (single characters must always be retained)")
    (sc(n), mk(n))
  }

  /** Pieces of `word` under boundary `mask` (bit i−1 ⟺ piece ends at
    * code point i).
    */
  private[ext] def segment(word: String, mask: Long): Seq[String] = {
    val cps = word.codePoints.toArray
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var start = 0
    var i = 1
    while (i <= cps.length) {
      if (((mask >> (i - 1)) & 1L) == 1L) {
        out += new String(cps, start, i - start)
        start = i
      }
      i += 1
    }
    out.toSeq
  }

  /** floor(1e6 · ln(cnt_eff / total)) — the frozen integer surrogate
    * log-prob (driver-side; never recomputed cross-engine).
    */
  private def scored(sel: Seq[(String, Long)]): Seq[(String, Long, Long)] = {
    val t = sel.iterator.map(p => math.max(p._2, 1L)).sum
    sel.sortBy(_._1).map { case (p, c) =>
      val ce = math.max(c, 1L)
      (p, c, math.floor(1e6 * math.log(ce.toDouble / t.toDouble)).toLong)
    }
  }

  /** Train `emRounds` Viterbi-EM rounds over the corpus word vocabulary.
    * Per round: segment every vocab word with the previous round's frozen
    * scores, recount piece usage (freq-weighted, per occurrence), prune
    * to singles ∪ top `seedSize` by (cnt desc, piece asc), re-score.
    * Retained singles that went unused keep cnt 0 and the smoothing score
    * floor(1e6 · ln(1 / T)).
    */
  def train(docs: DataFrame, textCol: String, emRounds: Int = 2,
            maxPieceLen: Int = 4, seedSize: Int = 120,
            maxWordLen: Int = MaxWordLen): UnigramModel = {
    require(emRounds >= 1, s"unigram: emRounds >= 1, got $emRounds")
    require(maxWordLen >= 1 && maxWordLen <= MaxWordLen,
      s"unigram: maxWordLen must be in [1, $MaxWordLen], got $maxWordLen")
    val spark = docs.sparkSession
    import spark.implicits._
    Materialize.using(Bpe.wordFreq(docs, textCol).as[(String, Long)]) { wf =>
      // max(length) over an EMPTY vocab is NULL — fail with a clear message
      // instead of an opaque NPE (round-11 ADVICE)
      val maxLenRow = wf.toDF("word", "freq")
        .agg(max(length(col("word")))).head()
      if (maxLenRow.isNullAt(0))
        throw new IllegalArgumentException(
          "unigram: empty corpus — no non-empty word to train on")
      val maxLen = maxLenRow.getInt(0)
      // `maxWordLen` is the CALLER's contract cap (e.g. the oracle's DP
      // unroll depth), enforced where the data enters so the engine and
      // its verifier share ONE bound (round-11 ADVICE); MaxWordLen above
      // is only the hard mask-width ceiling
      require(maxLen <= maxWordLen,
        s"unigram: corpus has a $maxLen-code-point word; this model is " +
          s"capped at $maxWordLen — pre-split pathological tokens upstream")
      val seed = seedPiecesOverFreq(wf.toDF("word", "freq"), maxPieceLen, seedSize)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      val singles = seed.collect { case (p, _) if p.codePointCount(0, p.length) == 1 => p }
        .sorted
      val rounds = scala.collection.mutable.ArrayBuffer(scored(seed))
      var r = 1
      while (r <= emRounds) {
        val scoreMap = rounds.last.map(t => t._1 -> t._3).toMap
        val mpl = maxPieceLen
        val counted = wf.flatMap { case (w, f) =>
          segment(w, viterbi(w, scoreMap, mpl)._2).map(p => (p, f))
        }.toDF("piece", "freq")
          .groupBy(col("piece")).agg(sum(col("freq")).as("cnt"))
          .collect().map(rr => (rr.getString(0), rr.getLong(1))).toMap
        val top = counted.toSeq.sortBy { case (p, c) => (-c, p) }.take(seedSize)
        val sel = (top ++ singles.map(s => s -> counted.getOrElse(s, 0L))).toMap
        rounds += scored(sel.toSeq)
        r += 1
      }
      UnigramModel(singles, rounds.toSeq)
    }
  }

  /** [[seedPieces]] over an already-built (word, freq) table — train()
    * reuses its persisted word-frequency vocab instead of re-aggregating
    * the corpus for the seed.
    */
  private def seedPiecesOverFreq(wf: DataFrame, maxPieceLen: Int,
                                 seedSize: Int): DataFrame = {
    val subs = wf
      .select(col("freq"), explode(expr(
        s"""flatten(transform(sequence(1, length(word)), i ->
           |  transform(sequence(1, least($maxPieceLen, length(word) - i + 1)), l ->
           |    substring(word, i, l))))""".stripMargin)).as("piece"))
      .groupBy(col("piece")).agg(sum(col("freq")).as("cnt"))
    val topN = subs.orderBy(col("cnt").desc, col("piece")).limit(seedSize)
    val singles = subs.filter(length(col("piece")) === 1)
    topN.unionByName(singles).dropDuplicates("piece")
  }

  /** Tokenize a corpus with a trained score table: (id, word count, piece
    * count, pieces of the first word — the spot-checkable sample; the
    * [[Bpe.tokenize]] output shape). Scores broadcast with the closure;
    * the Viterbi loop runs under `mapPartitions` with a per-partition
    * word→pieces memo (Zipf corpora re-segment the same few thousand
    * words constantly).
    */
  def tokenize(docs: DataFrame, idCol: String, textCol: String,
               scores: Map[String, Long], maxPieceLen: Int = 4,
               maxWordLen: Int = MaxWordLen): DataFrame = {
    require(maxWordLen >= 1 && maxWordLen <= MaxWordLen,
      s"unigram: maxWordLen must be in [1, $MaxWordLen], got $maxWordLen")
    val spark = docs.sparkSession
    import spark.implicits._
    val mwl = maxWordLen
    docs.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { it =>
        val memo = scala.collection.mutable.HashMap.empty[String, Seq[String]]
        it.map { case (id, text) =>
          val words = Option(text).map(_.split(" ").filter(_.nonEmpty))
            .getOrElse(Array.empty[String])
          val encoded = words.map(w =>
            memo.getOrElseUpdate(w, {
              // same caller-contract cap as train() — a word the oracle's
              // DP unroll cannot reach must fail HERE, not hash-mismatch
              val n = w.codePointCount(0, w.length)
              require(n <= mwl,
                s"unigram: $n-code-point word exceeds the model cap $mwl")
              segment(w, viterbi(w, scores, maxPieceLen)._2)
            }))
          (id, words.length, encoded.iterator.map(_.length).sum,
            encoded.headOption.map(_.mkString("|")).getOrElse(""))
        }
      }
      .toDF(idCol, "n_words", "n_pieces", "first_word_pieces")
  }
}
