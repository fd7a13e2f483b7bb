package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** BYTE-level BPE — the GPT-2-class twin of the code-point tokenizer in
  * [[Bpe]]: symbols start as the UTF-8 BYTES of each word (plus the
  * end-of-word marker), so the base alphabet is at most 256 values and
  * EVERY string is encodable with zero out-of-vocabulary risk — a
  * character the training corpus never saw still tokenizes through its
  * byte fallback, which is why production pipelines tokenize bytes (the
  * code-point variant must retain its training alphabet and throws
  * outside it).
  *
  * Symbol representation: each byte rides as its TWO-DIGIT UPPERCASE HEX
  * string ("48", "C3", …; merged symbols concatenate to longer even-length
  * hex strings). Hex-pair symbols are what make the byte tokenizer
  * DuckDB-oracle-able — SQL cannot hold raw bytes in the delimited-string
  * merge encoding (chr(0) would truncate VARCHARs), but
  * `hex(encode(word))` re-derives the exact same symbol stream, so the
  * whole unrolled-CTE training/encode recipe of the char tokenizer
  * transfers verbatim (see the `x_bpe_bytes_*` oracles). The JVM and SQL
  * sides agree by construction: both walk the UTF-8 encoding of the
  * identical string.
  *
  * Everything else — the merge-round loop, the pair-count aggregation,
  * the greedy lowest-rank-first encode, the vocab-not-corpus scale shape —
  * is [[Bpe]]'s machinery, shared directly ([[Bpe.trainByCount]],
  * [[Bpe.pairCounts]], [[Bpe.mergeWord]], [[Bpe.encodeSymbols]]).
  */
object ByteBpe {

  val Eow: String = Bpe.Eow

  private val HexDigits = "0123456789ABCDEF".toCharArray

  /** UTF-8 bytes of `word` as hex-pair symbols + the end-of-word marker —
    * the byte analog of `Bpe.toSymbols`.
    */
  private[ext] def toByteSymbols(word: String): Seq[String] = {
    val bytes = word.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val out = new scala.collection.mutable.ArrayBuffer[String](bytes.length + 1)
    bytes.foreach { b =>
      val v = b & 0xff
      out += new String(Array(HexDigits(v >> 4), HexDigits(v & 0xf)))
    }
    out += Eow
    out.toSeq
  }

  /** Decode a merged hex symbol back to its string (for round-trip checks
    * and display). The eow marker passes through.
    */
  private[ext] def decodeSymbol(sym: String): String =
    if (sym == Eow) sym
    else {
      require(sym.length % 2 == 0, s"byte-bpe: odd hex symbol '$sym'")
      val bytes = sym.grouped(2).map(h => Integer.parseInt(h, 16).toByte).toArray
      new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
    }

  /** (byte symbols, freq) vocab — the dataset training iterates on. */
  def symbolized(docs: DataFrame, textCol: String): Dataset[(Seq[String], Long)] = {
    val spark = docs.sparkSession
    import spark.implicits._
    Bpe.wordFreq(docs, textCol).as[(String, Long)]
      .map { case (w, f) => (toByteSymbols(w), f) }
  }

  /** Train `numMerges` byte merges — [[Bpe.trainByCount]] over the byte
    * vocab, one merge per round; same determinism (count desc,
    * lexicographic pair tiebreak — now over hex strings) and the same
    * vocab-sized rounds.
    */
  def train(docs: DataFrame, textCol: String, numMerges: Int,
            minCount: Long = 2L): Seq[(String, String, Long)] =
    Bpe.trainByCount(symbolized(docs, textCol), numMerges, minCount, batch = 1)

  /** Encode one word: byte symbols + the shared greedy lowest-rank-first
    * merge loop. Never throws — every base byte is its own symbol.
    */
  private[ext] def encodeWord(word: String,
                              ranks: Map[(String, String), Int]): Seq[String] =
    Bpe.encodeSymbols(toByteSymbols(word), ranks)

  /** Per-document byte-FALLBACK stats under frozen merges — the tokenizer
    * staleness signal (the [[graft.streaming.VectorIndexStream]] drift
    * gate's analog for the tokenizer family): a token that is a single
    * byte (one hex-pair symbol) is content no trained merge covered, and
    * a batch/source whose fallback rate jumps above the training-time
    * baseline is the retrain signal. Returns `(idCol, n_tokens,
    * n_fallback)`; docs with no words contribute zero tokens. Map-only —
    * same per-partition memoized encoder as [[tokenize]].
    */
  def fallbackStats(docs: DataFrame, idCol: String, textCol: String,
                    merges: Seq[(String, String, Long)]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val ranks: Map[(String, String), Int] =
      merges.zipWithIndex.map { case ((a, b, _), i) => (a, b) -> i }.toMap
    docs.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { it =>
        val memo = scala.collection.mutable.HashMap.empty[String, (Int, Int)]
        it.map { case (id, text) =>
          val words = Option(text).map(_.split(" ").filter(_.nonEmpty))
            .getOrElse(Array.empty[String])
          var tok = 0L; var fb = 0L
          words.foreach { w =>
            val (t, f) = memo.getOrElseUpdate(w, {
              val syms = encodeWord(w, ranks)
              (syms.length, syms.count(_.length == 2))
            })
            tok += t; fb += f
          }
          (id, tok, fb)
        }
      }
      .toDF(idCol, "n_tokens", "n_fallback")
  }

  /** Tokenize a corpus with a trained byte-merge list — the [[Bpe.tokenize]]
    * shape (id, word count, token count, first word's tokens as hex
    * symbols joined "|"), same per-partition memo discipline.
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
          val words = Option(text).map(_.split(" ").filter(_.nonEmpty))
            .getOrElse(Array.empty[String])
          val encoded = words.map(w => memo.getOrElseUpdate(w, encodeWord(w, ranks)))
          (id, words.length, encoded.iterator.map(_.length).sum,
            encoded.headOption.map(_.mkString("|")).getOrElse(""))
        }
      }
      .toDF(idCol, "n_words", "n_byte_tokens", "first_word_tokens")
  }
}
