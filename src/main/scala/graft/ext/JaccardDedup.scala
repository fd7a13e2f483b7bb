package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Materialize

/** Unigram-set Jaccard similarity self-join with LOSSLESS prefix filtering
  * (the ppjoin/AllPairs candidate rule).
  *
  * The round-1 form joined all pairs within a `source` group — O(n²) pairs
  * per group, a scale-killer on a single-source corpus. This form generates
  * candidates from a token-bucket join instead, with an output-preserving
  * guarantee:
  *
  *   Order every document's token set by one global canonical order
  *   (ascending document frequency, ties by token — rarest first). If
  *   J(A,B) ≥ t, then |A∩B| ≥ t·|A∪B| ≥ t·|A|; were the first
  *   p(A) = |A| − ⌈t·|A|⌉ + 1 tokens of A all absent from B, the overlap
  *   could be at most |A| − p(A) = ⌈t·|A|⌉ − 1 < t·|A| — contradiction.
  *   Symmetrically for B, and for the FIRST common token under the global
  *   order both positions are bounded, so the two PREFIXES must share a
  *   token. Candidates = prefix-token bucket join; everything the filter
  *   drops is provably below threshold.
  *
  * Rarest-first ordering makes prefix buckets small (a common token lands
  * in a prefix only for documents with no rarer token — i.e. tiny ones).
  * Every shuffle is keyed (token, source, or doc id) — no cross join
  * anywhere; PlanShapeSpec pins that.
  */
object JaccardDedup {

  /** Distinct token set at the given n-gram order: n=1 → words; n>1 →
    * space-joined runs of n consecutive words (string n-grams, so the
    * oracle can mirror them — [[MinHashDedup]] is the hashed-shingle
    * variant).
    *
    * Round 10: built on the native [[graft.functions.TextKernels]]
    * `word_ngrams` kernel. The previous SQL-lambda form spliced
    * `split(text)` textually into the `transform` body, and higher-order
    * functions evaluate INTERPRETED — each `element_at(split(text), i+j)`
    * re-ran the split per element reference, O(words²) splits per row
    * (measured 5× end-to-end on the retrieval family at sf0.1). The
    * kernel evaluates its token child once and runs inside codegen.
    * Same grams (concat_ws-with-space over n-windows; < n words → []);
    * one visible difference: NULL text now yields NULL instead of [] —
    * indistinguishable to every consumer here (both vanish under
    * `explode` and under the `size(ws) >= 1` guards).
    */
  def ngramSet(textColName: String, n: Int): org.apache.spark.sql.Column = {
    require(n >= 1)
    array_distinct(graft.functions.GraftFunctions.word_ngrams(
      split(col(textColName), " "), n))
  }

  /** Asymmetric CONTAINMENT pairs: C(A,B) = |A∩B| / |A| ≥ `threshold`,
    * with A the SMALLER n-gram set (|A| < |B|; ties broken by id). This is
    * the partial-copy/quotation detector symmetric Jaccard structurally
    * misses: a document embedded verbatim in one 10× larger has
    * J ≤ 0.1 — below any sane Jaccard threshold — but containment 1.0.
    *
    * Candidate rule (the asymmetric prefix filter): order each set by the
    * global canonical order (ascending df, rarest first). If C(A,B) ≥ t
    * then |A∩B| ≥ ⌈t·|A|⌉; were A's first p(A) = |A| − ⌈t·|A|⌉ + 1 tokens
    * all absent from B, overlap ≤ ⌈t·|A|⌉ − 1 — contradiction. So A's
    * PREFIX must hit B — but B gets no prefix (t bounds nothing about how
    * much of B is missed), so candidates are A-prefix tokens joined
    * against B's token list, and the ppjoin positional bound applies
    * unchanged: the first common token gives overlap ≤
    * 1 + min(|A|−rn_a, |B|−rn_b), required ≥ ⌈t·|A|⌉.
    *
    * `maxDf` is what keeps the B side from going superlinear: an A-prefix
    * × B-FULL-list join is Σ_τ prefixCnt(τ)·df(τ) candidates, and the sum
    * is dominated by common tokens — measured 8.9× on 10× data when
    * unbounded. Dropping tokens with df > maxDf from candidate generation
    * (BOTH sides, AFTER ranks are assigned over the full ordering) caps
    * the sum at maxDf · Σ prefixCnt — LINEAR in corpus size. The output
    * contract this computes is exact, not approximate:
    *
    *   pairs with C(A,B) ≥ t that share at least one n-gram with
    *   df ≤ maxDf.
    *
    * Proof the capped prefix join realizes exactly that set: take a
    * qualifying pair and let τ₁ be its rarest (canonical-first) common
    * token. Any shared σ with df(σ) ≤ maxDf sorts at-or-after τ₁, so
    * df(τ₁) ≤ maxDf — τ₁ survives the cap on both sides. The prefix
    * argument above yields some prefix(A) token in B; τ₁ sorts before it
    * and is in A, so τ₁ ∈ prefix(A). τ₁'s positional bound is genuine
    * (every other common token follows it in both full orderings), so its
    * candidate row passes the filter, and exact verification admits the
    * pair. Conversely every emitted pair shares its generating token
    * (df ≤ maxDf) and is verified ≥ t. The only caveat: df here is
    * counted on the 64-bit token hash, so a collision can merge two
    * tokens' counts and demote a token sitting within collision-mass of
    * the cap — vanishing at 64 bits, and collisions still never ADD false
    * pairs (exact verify).
    *
    * Recall shape of the contract: a true containment pair is excluded
    * only when EVERY shared n-gram appears in more than `maxDf` documents
    * — i.e. the copied text is itself corpus-wide boilerplate, which is
    * [[Boilerplate]]'s job to detect, not a pairwise detector's. With
    * n-gram ≥ 3, a genuine partial copy shares the source's consecutive
    * trigrams whose df ≈ the copy-family size, far under any sane cap.
    * Pass `maxDf = Long.MaxValue` to recover the exhaustive (superlinear)
    * round-5 behavior when the corpus is known-small.
    *
    * Returns the pairs pinned ([[graft.Materialize]]).
    */
  def containmentPairs(docs: DataFrame, threshold: Double = 0.5,
                       ngram: Int = 3, maxDf: Long = 100L): DataFrame = {
    // hs = the hashed n-gram set, computed once at tokenization: the
    // verify join below intersects HASH arrays, not string arrays — the
    // candidate sliver at worst-case duplication (ScaleUp ×10) is millions
    // of pairs, and fetching two ~3 KB string arrays per pair made verify
    // the dominant stage (measured 36 s of a 46 s sf1 run). 8 B/element
    // long arrays cut the verify shuffle ~4× and the intersect is a long
    // compare. Same collision stance as the candidate rule: a collision
    // can merge two n-grams in the intersect — vanishing at 64 bits.
    val t = docs.select(col("doc_id"), ngramSet("text", ngram).as("ws"))
      .filter(size(col("ws")) >= 1)
      .select(col("doc_id"), col("ws"),
        expr("transform(ws, x -> xxhash64(x))").as("hs"))
      .persist()
    // token strings are dropped RIGHT AFTER hashing: the freq aggregate,
    // freq join, and rank window all shuffle (doc_id, sz, th) — ~20 B/row.
    // The canonical order is (df, th) with no string tiebreak: a tie is
    // exactly a 64-bit collision, which this operator's df counting and
    // candidate keying already accept (see the contract caveat above), so
    // the string tiebreak bought determinism only in a regime the rest of
    // the plan had already given up — and cost a corpus of n-gram strings
    // through two shuffles ([[similarPairs]] keeps its string tiebreak
    // and its unconditional guarantee).
    val toks = t.select(col("doc_id"), size(col("ws")).as("sz"),
      explode(col("ws")).as("tok"))
      .select(col("doc_id"), col("sz"), xxhash64(col("tok")).as("th"))
    val freq = toks.groupBy(col("th")).agg(count(lit(1)).as("df"))
    val tDec = lit(new java.math.BigDecimal(java.lang.Double.toString(threshold)))
    val byDoc = Window.partitionBy(col("doc_id"))
      .orderBy(col("df"), col("th"))
    val ranked = toks.join(freq, "th")
      .withColumn("rn", row_number().over(byDoc))
    val prefixLen = col("sz") - ceil(tDec * col("sz")) + lit(1)
    // df ≤ maxDf applied AFTER ranking (ranks must reflect the full
    // ordering for the positional bound) and on BOTH join inputs — the
    // B-side posting-list cap is the linearity guarantee. The slim capped
    // projection is persisted because it feeds BOTH sides of the candidate
    // join: without it the explode→freq-join→rank-window lineage (the
    // corpus-sized part of this plan) executes twice. 20 B/row, no token
    // strings; released with `t` once the result is pinned.
    val slim = ranked.filter(col("df") <= maxDf)
      .select(col("th"), col("doc_id"), col("rn"), col("sz"))
      .persist()
    val cand = slim.filter(col("rn") <= prefixLen)
      .select(col("th"), col("doc_id").as("doc_a"), col("rn").as("ra"), col("sz").as("sa"))
      .join(slim.select(col("th"), col("doc_id").as("doc_b"),
          col("rn").as("rb"), col("sz").as("sb")), Seq("th"))
      .filter(col("sa") < col("sb") ||
        (col("sa") === col("sb") && col("doc_a") < col("doc_b")))
      .filter(lit(1) + least(col("sa") - col("ra"), col("sb") - col("rb")) >=
        ceil(tDec * col("sa")))
      .select(col("doc_a"), col("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    val sets = t.select(col("doc_id"), col("hs"))
    val out = Materialize.pin(cand
      .join(sets.select(col("doc_id").as("doc_a"), col("hs").as("ha")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("hs").as("hb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (size(array_intersect(col("ha"), col("hb"))).cast("double") /
          size(col("ha"))).as("containment"))
      .filter(col("containment") >= threshold))
    Materialize.release(slim)
    Materialize.release(t)
    out
  }

  /** Pairs (doc_a < doc_b, same source) with Jaccard(n-gram sets) ≥
    * `threshold`, restricted to |Δn_chars|·5 ≤ n_chars sum (the ≤1.5×
    * length-ratio prefilter that is part of this operator's round-1 spec,
    * mirrored in the oracle). Returns the pairs pinned
    * ([[graft.Materialize]]).
    */
  def similarPairs(docs: DataFrame, threshold: Double = 0.5,
                   ngram: Int = 1): DataFrame = {
    // the tokenized corpus is consumed three times (token explode + both
    // sides of the verification join); persist beats recomputing the
    // split/distinct scan each time — same measured trade as
    // MinHashDedup.nearDuplicates — and is released once the result is
    // pinned
    val t = docs.select(col("doc_id"), col("source"), col("n_chars"),
      ngramSet("text", ngram).as("ws"))
      .persist()

    // token identity travels as its 64-bit hash: every keyed shuffle below
    // (frequency count, freq join, candidate join) carries 8-byte keys, not
    // token strings. A hash collision can only MERGE two tokens' buckets —
    // i.e. ADD candidate pairs — and exact verification removes them, so
    // the lossless guarantee is unconditional.
    val toks = t.select(col("doc_id"), col("source"), col("n_chars"),
      size(col("ws")).as("sz"), explode(col("ws")).as("tok"))
      .withColumn("th", xxhash64(col("tok")))

    // global canonical token order: ascending document frequency, ties by
    // (hash, token) — the token string stays ONLY as the final tiebreak so
    // colliding tokens still sort consistently across documents
    val freq = toks.groupBy(col("th")).agg(count(lit(1)).as("df"))

    // prefix length p = |s| − ⌈t·|s|⌉ + 1, computed in EXACT decimal: the
    // double form floor((1−t)·sz)+1 underestimates by 1 whenever (1−t) or
    // t·sz is inexact in binary (e.g. t=0.9, sz=10 → 1 instead of 2),
    // silently breaking losslessness
    val tDec = lit(new java.math.BigDecimal(java.lang.Double.toString(threshold)))
    val prefixLen = col("sz") - ceil(tDec * col("sz")) + lit(1)

    val byDoc = Window.partitionBy(col("doc_id"))
      .orderBy(col("df"), col("th"), col("tok"))
    val prefix = toks.join(freq, "th")
      .withColumn("rn", row_number().over(byDoc))
      .filter(col("rn") <= prefixLen)
      .select(col("th"), col("source"), col("doc_id"), col("n_chars"),
        col("rn"), col("sz"))

    // ppjoin POSITIONAL upper bound, applied before the verify join: for
    // the FIRST common token under the global order (position rn_a in A,
    // rn_b in B), every other common token sits strictly after it in both
    // documents, so |A∩B| ≤ 1 + min(|A|−rn_a, |B|−rn_b). J ≥ t needs
    // |A∩B| ≥ t·|A∪B| ≥ t·max(|A|,|B|), so a pair whose bound falls short
    // of ⌈t·max⌉ is provably below threshold. The max-form (not ppjoin's
    // t/(1+t)·(|A|+|B|) form) is deliberate: it needs only an exact
    // decimal MULTIPLY + ceil, while the sum form needs a decimal DIVIDE
    // whose rounded quotient could overestimate the requirement and break
    // losslessness. Lossless: the first common token appears in both
    // prefixes (the prefix-filter argument) and satisfies the bound;
    // later shared tokens may be dropped, which only thins duplicate
    // candidate rows ahead of dropDuplicates.
    val cand = prefix
      .select(col("th"), col("source"), col("doc_id").as("doc_a"),
        col("n_chars").as("ca"), col("rn").as("ra"), col("sz").as("sa"))
      .join(prefix.select(col("th"), col("source"), col("doc_id").as("doc_b"),
        col("n_chars").as("cb"), col("rn").as("rb"), col("sz").as("sb")),
        Seq("source", "th"))
      .filter(col("doc_a") < col("doc_b") &&
        abs(col("ca") - col("cb")) * 5 <= col("ca") + col("cb"))
      .filter(lit(1) + least(col("sa") - col("ra"), col("sb") - col("rb")) >=
        ceil(tDec * greatest(col("sa"), col("sb"))))
      .select(col("doc_a"), col("doc_b"))
      .dropDuplicates("doc_a", "doc_b")

    // exact verification: fetch the two token sets by id (candidate set ≪
    // corpus) and compute true Jaccard
    val sets = t.select(col("doc_id"), col("ws"))
    val out = Materialize.pin(cand
      .join(sets.select(col("doc_id").as("doc_a"), col("ws").as("wa")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("ws").as("wb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (size(array_intersect(col("wa"), col("wb"))).cast("double") /
          size(array_union(col("wa"), col("wb")))).as("jaccard"))
      .filter(col("jaccard") >= threshold))
    Materialize.release(t)
    out
  }
}
