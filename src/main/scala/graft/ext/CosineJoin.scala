package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Materialize

/** All-pairs COSINE similarity self-join over term-frequency vectors — the
  * weighted member of the similarity-join family ([[JaccardDedup]] covers
  * sets; this covers multisets/tf vectors — the "these two docs quote the
  * same rare phrases a lot" signal sets can't weigh). Candidate generation
  * is the AllPairs/ppjoin prefix filter adapted to cosine (Bayardo, Ma &
  * Srikant, "Scaling Up All Pairs Similarity Search", WWW 2007).
  *
  * Scale design:
  *  - **df cap**: vectors are restricted to tokens with document frequency
  *    ≤ `maxDf` (declared operator semantics, the stopword-pruning every
  *    sparse-similarity index applies) — the per-token join fan-out is then
  *    bounded by maxDf², and Σ df² ≤ maxDf · Σ df caps the whole candidate
  *    volume linearly in corpus token count.
  *  - **prefix filter** (lossless): tokens sort by global rarity (df asc,
  *    token asc); token i of doc x is in the prefix iff the normalized
  *    SUFFIX norm from i on is ≥ threshold−1e-6. For the first shared
  *    token i of any pair, cos(x,y) ≤ s_x(i)·s_y(i) (Cauchy–Schwarz on
  *    the suffixes), so a pair missing from prefix×prefix has
  *    cos < threshold−1e-6 — below the verify cut even after round(,6);
  *    the 1e-6 slack swallows both the sqrt's IEEE error and the final
  *    rounding, making the filter provably lossless (≡ naive pinned in
  *    CosineJoinSpec across thresholds).
  *  - **integer-exact verify**: the dot is Σ tf_a·tf_b over LONGs (exact,
  *    associative — aggregation order cannot change it; a float dot could
  *    never hash-match an oracle), with the sqrt/divisions applied once
  *    per pair at the end, in [[Similarity.cosine]]'s division order.
  * Every join is keyed (token or pair); no window is wider than one
  * document's tokens.
  */
object CosineJoin {

  /** Word n-gram MULTISET terms (duplicates kept — tf counts them); the
    * non-distinct sibling of [[JaccardDedup.ngramSet]], same split rule,
    * same native `word_ngrams` kernel (see ngramSet's round-10 note: the
    * SQL-lambda form re-ran the split per element reference).
    */
  private def ngrams(textColName: String, n: Int): org.apache.spark.sql.Column = {
    require(n >= 1)
    graft.functions.GraftFunctions.word_ngrams(split(col(textColName), " "), n)
  }

  /** `(doc_a, doc_b, cos)` for pairs with `round(cos, 6) ≥ threshold`,
    * cosine over rare-term (df ≤ maxDf) tf sub-vectors of word `ngram`
    * multisets (ngram ≥ 2 is the phrase-level form — on small-vocabulary
    * corpora unigram tf degenerates, exactly as for the jaccard family).
    * Returns the pairs pinned; the weighted corpus, norms and prefix it
    * cached are released before return.
    */
  def similarPairs(docs: DataFrame, threshold: Double, maxDf: Long = 100L,
                   ngram: Int = 1, idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold in (0,1], got $threshold")
    val tf = docs
      .select(col(idCol).as("doc_id"), explode(ngrams(textCol, ngram)).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
    // the weighted corpus feeds FOUR consumers (nsq, the prefix window,
    // and both sides of the verify join) and its lineage — n-gram explode
    // + two keyed aggregations — is the corpus-sized part of this plan;
    // persist it, [[JaccardDedup]]'s measured discipline (round 15: the
    // unpersisted form re-ran the explode chain per consumer and made this
    // the bench's single largest build)
    val w = tf.join(dfreq, Seq("tok")).persist()
    val nsq = w.groupBy(col("doc_id")).agg(sum(col("tf") * col("tf")).as("nsq")).persist()
    // suffix Σtf² per doc in global rarity order — an exact integer window
    // sum, partitioned per document (bounded by one doc's token count)
    val win = Window.partitionBy(col("doc_id"))
      .orderBy(col("df"), col("tok"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val cut = math.max(threshold - 1e-6, 0.0)
    // both sides of the candidate self-join read this — persisted for the
    // same reason as `w` (the window sort is per-doc but corpus-wide)
    val prefix = w
      .withColumn("sufsq", sum(col("tf") * col("tf")).over(win))
      .join(nsq, Seq("doc_id"))
      // sqrt(sufsq/nsq) >= cut  <=>  sufsq >= cut² · nsq
      .filter(col("sufsq").cast("double") >= lit(cut * cut) * col("nsq").cast("double"))
      // s² = sufsq/nsq: the normalized SUFFIX-norm square at this token,
      // carried into candidate generation for the positional bound below
      .select(col("tok"), col("doc_id"),
        (col("sufsq").cast("double") / col("nsq").cast("double")).as("ssq"))
      .persist()
    // ppjoin positional upper bound (the cosine form of the bound the
    // jaccard sibling carries): for any shared token, cos(x,y) ≤
    // s_x(i)·s_y(j) (Cauchy–Schwarz on the suffixes from the shared token
    // on). A TRUE pair's FIRST shared token in the global rarity order has
    // both sides in the prefix (if s_x < cut there, cos ≤ s_x·1 < cut) and
    // s_x·s_y ≥ cos ≥ threshold, so keeping a pair iff its BEST shared
    // prefix token has s_a²·s_b² ≥ cut² is lossless — and prunes pairs
    // that share only deep-suffix tokens before the 3-join verify pays
    // for them. Same shuffle as the dropDuplicates it replaces (one keyed
    // aggregation on the pair), strictly fewer rows out.
    val cand = prefix.select(col("tok"), col("doc_id").as("doc_a"), col("ssq").as("sa"))
      .join(prefix.select(col("tok"), col("doc_id").as("doc_b"), col("ssq").as("sb")),
        Seq("tok"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(max(col("sa") * col("sb")).as("bound"))
      .filter(col("bound") >= lit(cut * cut))
      .select(col("doc_a"), col("doc_b"))
    val out = Materialize.pin(verify(cand, w, nsq, threshold))
    Seq(w, nsq, prefix).foreach(Materialize.release(_))
    out
  }

  /** Exact verify of candidate pairs: integer dot over shared tokens, one
    * division per pair (shared with the naive form so the spec's
    * prefix≡naive pin compares identical arithmetic).
    */
  private[ext] def verify(cand: DataFrame, w: DataFrame, nsq: DataFrame,
                          threshold: Double): DataFrame = {
    val dot = cand
      .join(w.select(col("doc_id").as("doc_a"), col("tok"), col("tf").as("tfa")),
        Seq("doc_a"))
      .join(w.select(col("doc_id").as("doc_b"), col("tok"), col("tf").as("tfb")),
        Seq("doc_b", "tok"))
      .groupBy(col("doc_a"), col("doc_b")).agg(sum(col("tfa") * col("tfb")).as("dot"))
    dot
      .join(nsq.select(col("doc_id").as("doc_a"), col("nsq").as("na")), Seq("doc_a"))
      .join(nsq.select(col("doc_id").as("doc_b"), col("nsq").as("nb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        round(col("dot").cast("double")
          / sqrt(col("na").cast("double")) / sqrt(col("nb").cast("double")), 6).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Naive reference form (all shared-token pairs, no prefix filter) —
    * the spec's equivalence baseline; same verify arithmetic.
    */
  private[ext] def similarPairsNaive(docs: DataFrame, threshold: Double,
                                     maxDf: Long = 100L, ngram: Int = 1,
                                     idCol: String = "doc_id",
                                     textCol: String = "text"): DataFrame = {
    val tf = docs
      .select(col(idCol).as("doc_id"), explode(ngrams(textCol, ngram)).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
    val w = tf.join(dfreq, Seq("tok"))
    val nsq = w.groupBy(col("doc_id")).agg(sum(col("tf") * col("tf")).as("nsq"))
    val cand = w.select(col("tok"), col("doc_id").as("doc_a"))
      .join(w.select(col("tok"), col("doc_id").as("doc_b")), Seq("tok"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).dropDuplicates("doc_a", "doc_b")
    verify(cand, w, nsq, threshold)
  }
}
