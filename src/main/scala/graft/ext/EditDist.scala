package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Materialize

/** Edit-distance vocabulary clustering — the SymSpell / deletion-
  * neighborhood scheme (Garbe's symmetric-delete algorithm; the
  * production approach for spell-variant collapsing at scale): two words
  * are within Levenshtein distance 1 ONLY IF their ≤1-deletion
  * neighborhoods intersect (delete → b ∈ del1(a); insert → a ∈ del1(b);
  * substitute → deleting the edited position from both yields the same
  * string; equality → the words themselves). The converse does NOT hold
  * (del1("ab") ∩ del1("ba") ∋ both single chars, yet lev = 2), so shared
  * deletion keys are CANDIDATES and every candidate is verified with the
  * exact distance — output ⊆ truth by verification, output ⊇ truth by the
  * neighborhood theorem: exact, never approximate.
  *
  * Scale shape: everything is VOCABULARY-sized, never corpus-sized — the
  * corpus collapses to (word, freq) first (one aggregation), each word
  * emits a bounded deletion neighborhood (see [[MaxWordLen]]), candidates
  * come from ONE equi-join keyed on the 8-byte variant hash, and the
  * exact-distance verify runs per candidate pair INSIDE codegen (the
  * built-in threshold-form `levenshtein`, equivalence with the code-point
  * definition pinned in EditDistSpec). An all-pairs vocabulary scan is
  * |V|² (10¹⁰ pairs at a 100k vocab); this is Σ neighborhood·bucket —
  * linear in the vocabulary for natural-language key distributions. The
  * same skeleton as the MinHash/SimHash banding families, on the
  * string-edit metric.
  *
  * Words are CODE-POINT sequences (the [[Bpe]]/[[Cdc]] contract — DuckDB
  * `levenshtein`/`substr`/`length` count code points where naive JVM code
  * would count UTF-16 units; Spark's `length` and `levenshtein` also
  * count code points, so the whole operator family agrees symbol for
  * symbol — EditDistSpec pins the astral-plane cases).
  *
  * Storage: [[nearPairs]] and [[typoCanonical]] cache their inputs (the
  * caller's `vocabDf` plan included) for the duration of the call and
  * return the pair-sized / vocabulary-sized result pinned
  * ([[graft.Materialize]]) — nothing vocabulary-shaped is computed twice.
  * Callers passing an already-persisted `vocabDf` should know the call
  * unpersists that exact plan on return.
  */
object EditDist {

  /** Max word length (CODE POINTS) admitted to neighborhood generation —
    * the length guard at the data boundary (round-14 ADVICE): the
    * deletion neighborhood is C(len, k)-sized, so one pathological long
    * token (a URL or base64 blob — routine in the web corpora this
    * operator targets) at maxDist 2–3 would emit millions of long variant
    * strings into the candidate join. Words longer than this are excluded
    * from PAIRING entirely (no variants, no pair rows; [[typoCanonical]]
    * still maps them — to themselves, as isolated nodes), a contract the
    * DuckDB oracles mirror with the same length filter. 32 cps covers
    * every natural-language vocabulary (the longest common English
    * dictionary words are ~28); what it excludes is exactly the
    * id/url/blob tail whose "typos" are not spelling variants. Skip-and-
    * document rather than the fail-loudly [[WordPiece.MaxWordLen]]
    * convention because long tokens are DATA here (one bad web page must
    * not halt a corpus-wide normalization), not a training-parameter
    * misuse.
    */
  val MaxWordLen = 32

  /** All single-code-point deletions of `w` (length in code points ≥ 1),
    * deduplicated ("aa" has one distinct deletion, not two).
    */
  private[ext] def deletions1(w: String): Seq[String] = {
    val cps = toCps(w)
    (0 until cps.length).map { i =>
      val b = new StringBuilder
      var j = 0
      while (j < cps.length) { if (j != i) b.appendAll(Character.toChars(cps(j))); j += 1 }
      b.toString
    }.distinct
  }

  /** The ≤`k`-deletion neighborhood of `w` INCLUDING `w` itself —
    * distinct strings reachable by at most k single-code-point deletions
    * (≤ Σ_{j≤k} C(len, j) strings; at [[MaxWordLen]]-bounded word lengths,
    * a few hundred worst-case). The symmetric-delete soundness argument
    * generalizes from k = 1: an optimal ≤k-edit script with i inserts, d
    * deletes, s substitutions (i+d+s ≤ k) leaves a common subsequence
    * reachable from `a` by deleting its d+s edited positions and from `b`
    * by deleting its i+s — both within ≤k deletions, so the neighborhoods
    * intersect.
    */
  private[ext] def deletionsUpTo(w: String, k: Int): Seq[String] = {
    var frontier = Set(w)
    val seen = scala.collection.mutable.LinkedHashSet(w)
    var round = 0
    while (round < k) {
      frontier = frontier.flatMap(s => if (s.isEmpty) Seq.empty else deletions1(s))
      frontier.foreach(seen += _)
      round += 1
    }
    seen.toSeq
  }

  private def toCps(w: String): Array[Int] = {
    val out = new scala.collection.mutable.ArrayBuffer[Int](w.length)
    var i = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      out += cp
      i += Character.charCount(cp)
    }
    out.toArray
  }

  /** Exact Levenshtein distance over CODE POINTS, unit costs — the same
    * definition DuckDB's `levenshtein` computes, so the verify step and
    * the oracle agree symbol for symbol. Kept as the REFERENCE
    * implementation (spec brute-force sides, equivalence pin for the
    * built-in): the distributed verify uses Spark's codegen `levenshtein`
    * (threshold form), whose equality with this definition — astral
    * substitutions cost 1, not 2 — EditDistSpec asserts.
    */
  private[ext] def lev(a: String, b: String): Int = {
    val (x, y) = (toCps(a), toCps(b))
    if (x.isEmpty) return y.length
    if (y.isEmpty) return x.length
    var prev = Array.tabulate(y.length + 1)(identity)
    var cur = new Array[Int](y.length + 1)
    var i = 1
    while (i <= x.length) {
      cur(0) = i
      var j = 1
      while (j <= y.length) {
        val sub = prev(j - 1) + (if (x(i - 1) == y(j - 1)) 0 else 1)
        cur(j) = math.min(math.min(prev(j) + 1, cur(j - 1) + 1), sub)
        j += 1
      }
      val t = prev; prev = cur; cur = t
      i += 1
    }
    prev(y.length)
  }

  /** Corpus vocabulary with frequencies: `(word, cnt)` — the frame every
    * operator here iterates on (one corpus aggregation; empty tokens
    * dropped).
    */
  def vocab(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(split(col(textCol), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))

  /** The candidate-generation + verify core over an already-CACHED
    * one-column `word` frame of pairing-eligible words (length ≤
    * [[MaxWordLen]]): deletion-neighborhood equi-join on the 8-byte
    * variant hash, then the exact distance via the built-in threshold-form
    * `levenshtein` — returns -1 above `k`, the exact distance otherwise,
    * and runs inside whole-stage codegen (the previous Dataset `.map`
    * verify was the one non-codegen hop in the operator; round-14 verdict
    * item 1). The keys frame is persisted by the CALLER's lifetime scope —
    * this core references it on both join sides.
    */
  private def nearPairsOn(keys: DataFrame, k: Int): DataFrame = {
    val cand = keys.select(col("vk"), col("word").as("word_a"))
      .join(keys.select(col("vk"), col("word").as("word_b")), Seq("vk"))
      .filter(col("word_a") < col("word_b"))
      .select(col("word_a"), col("word_b"))
      .dropDuplicates("word_a", "word_b")
    cand
      .withColumn("dist", levenshtein(col("word_a"), col("word_b"), k))
      .filter(col("dist") =!= -1)
  }

  /** The hashed deletion-neighborhood key frame `(vk, word)` for the
    * pairing-eligible vocabulary (the word itself is a key too, catching
    * pure insert/delete neighbors).
    */
  private def neighborhoodKeys(vocabDf: DataFrame, k: Int): DataFrame = {
    val spark = vocabDf.sparkSession
    import spark.implicits._
    vocabDf.select(col("word"))
      .filter(length(col("word")) <= MaxWordLen)
      .as[String]
      .flatMap(w => deletionsUpTo(w, k).map(v => (v, w)))
      .toDF("variant", "word")
      .select(xxhash64(col("variant")).as("vk"), col("word"))
  }

  /** Vocabulary pairs at Levenshtein distance ≤ `maxDist` (distinct
    * words ≤ [[MaxWordLen]] code points), `word_a < word_b` — candidates
    * from the deletion-neighborhood equi-join, then exact-distance
    * verified in codegen. Output `(word_a, word_b, dist)`, pinned.
    * `maxDist = 2` is production
    * SymSpell's standard radius; neighborhood size — and so candidate
    * volume — grows ~C(len, maxDist), which is why the radius is a knob
    * and not unbounded.
    */
  def nearPairs(vocabDf: DataFrame, maxDist: Int = 1): DataFrame = {
    require(maxDist >= 1 && maxDist <= 3,
      s"editdist nearPairs: maxDist in [1, 3], got $maxDist (the deletion " +
        "neighborhood is C(len, k)-sized — larger radii want a different scheme)")
    // the keys frame feeds BOTH sides of the candidate self-join, and the
    // two sides project different aliases so ReuseExchange cannot be
    // relied on to dedupe them — without the persist the corpus-fed vocab
    // aggregation AND the C(len,k) variant flatMap execute per reference
    // (round-14 ADVICE)
    Materialize.using(neighborhoodKeys(vocabDf, maxDist)) { keys =>
      Materialize.pin(nearPairsOn(keys, maxDist))
    }
  }

  /** SymSpell's correction rule as a canonicalization map: every word's
    * canonical form is the highest-frequency word within edit distance
    * ≤ `maxDist` of it (itself included), ties to the lexicographically
    * smallest — `(word, canonical, canonical_cnt)`. Words with no
    * more-frequent neighbor — including every word past [[MaxWordLen]],
    * which never pairs — map to themselves, so the map is total over the
    * vocabulary and applying it collapses typo variants onto their
    * dominant spelling (the text-normalization step of a web-corpus
    * pipeline). `maxDist = 2` is production SymSpell's correction radius:
    * it folds substituted-plus-deleted variants and transpositions that
    * radius 1 leaves separate (a k=1/k=2 canonical flip is pinned in the
    * spec). Cost: the [[nearPairs]] core + two vocabulary-keyed joins +
    * one argmax aggregation — still vocabulary-sized end to end. Result
    * pinned.
    */
  def typoCanonical(vocabDf: DataFrame, maxDist: Int = 1): DataFrame = {
    // vocabDf is referenced three times (neighborhood keys, the self
    // union, the count join) and is typically a corpus aggregation —
    // persist it for the call (NOTE: the caller's plan is unpersisted on
    // return; see the object scaladoc)
    Materialize.using(vocabDf) { v =>
      Materialize.using(neighborhoodKeys(v, maxDist)) { keys =>
        val pairs = nearPairsOn(keys, maxDist).select(col("word_a"), col("word_b"))
        // neighbor relation, symmetric closure + self. The closure EXPLODES
        // each pair into both directions instead of unioning two references
        // to the pairs plan — referencing it twice would run the per-candidate
        // exact-Levenshtein verify (the scheme's hottest step) twice per action
        val nbrs = pairs.select(explode(array(
            struct(col("word_a").as("word"), col("word_b").as("nbr")),
            struct(col("word_b").as("word"), col("word_a").as("nbr")))).as("e"))
          .select(col("e.word").as("word"), col("e.nbr").as("nbr"))
          .unionByName(v.select(col("word"), col("word").as("nbr")))
        Materialize.pin(nbrs
          .join(v.select(col("word").as("nbr"), col("cnt").as("nbr_cnt")), Seq("nbr"))
          // argmax by (cnt desc, word asc): min of (-cnt, word) — one hash agg
          .groupBy(col("word"))
          .agg(min(struct((-col("nbr_cnt")).as("neg"), col("nbr").as("w"))).as("best"))
          .select(col("word"), col("best.w").as("canonical"),
            (-col("best.neg")).as("canonical_cnt")))
      }
    }
  }
}
