package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Train/eval decontamination — the benchmark-leak check every serious
  * pre-training pipeline runs (the reference has no counterpart; this is
  * part of the LLM-data operator family the engine adds): a training
  * document is contaminated if it shares any word n-gram (n≈13 in
  * published pipelines; parameterized here) with an evaluation document.
  *
  * Scale shape: the eval side is BENCHMARK-sized (thousands of docs —
  * always many orders below the corpus), so its distinct n-gram set is
  * sketchable. The corpus side explodes to (doc_id, ngram) once, passes a
  * broadcast bloom prescreen ([[graft.ops.BloomJoin]] — the same
  * expression pair AQE injects for runtime filters, sized to the eval
  * set's distinct n-gram count at 3% false positives), and only the
  * surviving sliver reaches the exact-match shuffle. False positives die
  * in the exact join, so the output is EXACT — the bloom only cuts the
  * exchange volume, which is what matters when the left side is 100 TB of
  * text n-grams. No driver-side data state beyond the sketch bytes
  * (about 0.9 B per eval n-gram).
  */
object Decontaminate {

  /** n-grams over an EXPLICIT token-array column: n consecutive tokens
    * re-joined with single spaces. Spark's `sequence(a, b)` DESCENDS when
    * a > b (it would fabricate windows for short docs), so short token
    * lists are routed to an explicit empty array. Tokenization is the
    * caller's choice — `split(t, ' ')` for single-spaced corpora,
    * [[TextOps.wordsWs]] for real-world whitespace, [[normTokens]] for
    * normalized matching.
    */
  def ngramsOf(tokens: Column, n: Int): Column =
    // native window-join kernel; value-identical ON NON-NULL INPUT to
    //   when(size(ws) >= n, transform(sequence(1, size(ws)-(n-1)),
    //        i -> array_join(slice(ws, i, n), ' '))).otherwise(array())
    // (pinned in TextKernelsSpec) — that form is three nested
    // CodegenFallback higher-order functions and dominated the repetition/
    // decontamination scans once the run-length fold went native.
    // NULL tokens (NULL text) now propagate to NULL (standard expression
    // null semantics; the old `when` form silently mapped NULL to []) —
    // unobservable in every consumer here, because both NULL and [] vanish
    // identically under `explode` and under the `size(gs) >= 1` /
    // `size(ws) >= n` guards the registry queries apply (pinned in
    // TextKernelsSpec's null test).
    graft.functions.GraftFunctions.word_ngrams(tokens, n)

  /** Word n-grams of a single-spaced text column (the fixture contract). */
  def ngrams(textCol: String, n: Int): Column =
    ngramsOf(split(col(textCol), " "), n)

  /** Published decontamination pipelines match on NORMALIZED n-grams
    * (lowercase, punctuation stripped) so that "Hello, World!" in a
    * training doc still hits "hello world" in an eval answer: lowercase,
    * non-alphanumeric → space, whitespace-robust tokenize. Mirrorable in
    * DuckDB (`lower(regexp_replace(…, '[^A-Za-z0-9\s]', ' ', 'g'))` + the
    * wordsWs mirror).
    */
  def normTokens(text: Column): Column =
    TextOps.wordsWs(lower(regexp_replace(text, "[^A-Za-z0-9\\s]", " ")))

  /** (id, n_overlap) for every training doc sharing ≥1 distinct n-gram
    * with the eval set; clean docs are absent. `n_overlap` counts the
    * DISTINCT shared n-grams — the usual severity signal.
    */
  def contaminated(train: DataFrame, evalSet: DataFrame, n: Int = 3,
                   idCol: String = "doc_id", textCol: String = "text",
                   normalize: Boolean = false): DataFrame = {
    def grams = if (normalize) ngramsOf(normTokens(col(textCol)), n)
                else ngrams(textCol, n)
    val tg = train.select(col(idCol), explode(array_distinct(grams)).as("ng"))
    // persist the eval n-gram set: it is read three times (the count that
    // sizes the sketch and the sketch build — immediate actions — then the
    // exact-verify join) and it is benchmark-sized by assumption; without
    // it every downstream action re-explodes the eval docs. Kept on purpose
    // as a SESSION cache: it lives until `Materialize.release` or
    // `clearCache`, and calls with the same eval plan share the one entry
    // (an ingest loop probes every batch against the same eval set, so only
    // the first call pays for the explode)
    val eg = evalSet.select(explode(array_distinct(grams)).as("ng"))
      .distinct().persist()
    graft.ops.BloomJoin.prefilter(tg, col("ng"), eg, col("ng"))
      .join(eg, Seq("ng")) // exact verify: bloom false positives die here
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_overlap"))
  }

  /** Per-doc contamination SEVERITY: (id, n_grams, n_overlap, frac) for
    * EVERY training doc — clean docs appear with 0 / 0.0, so the output is
    * directly thresholdable (published pipelines drop at frac ≳ 0.05-0.8
    * depending on benchmark; [[contaminated]]'s any-overlap rule is the
    * frac > 0 special case). `frac` is one IEEE division of two exact
    * integers, so it cross-engine hash-matches.
    *
    * Scale shape: the denominators are a map-only pass over the corpus
    * (no shuffle); the numerators come from [[contaminated]]'s bloom-
    * prescreened sliver; the final join is id-keyed.
    */
  def contaminationFraction(train: DataFrame, evalSet: DataFrame, n: Int = 3,
                            idCol: String = "doc_id", textCol: String = "text",
                            normalize: Boolean = false): DataFrame = {
    def grams = if (normalize) ngramsOf(normTokens(col(textCol)), n)
                else ngrams(textCol, n)
    // DELIBERATELY two scans (round-16 measurement): sharing one exploded
    // (id, gram) scan via persist was tried and measured SLOWER (1.12 →
    // 1.84 s isolated at sf0.1) — materializing the corpus-wide string-
    // gram table costs more than re-running the native n-gram kernel for
    // the map-only denominator pass, and the agg-based totals adds an
    // id-keyed exchange the map-only form doesn't pay. greatest(·, 0): a
    // NULL text row propagates NULL through the n-gram kernel and
    // size(NULL) is -1 — the every-doc-reports contract means it must
    // surface as (0, 0, 0.0), never a negative or NULL n_grams.
    val totals = train.select(col(idCol),
      greatest(size(array_distinct(grams)), lit(0)).cast("long").as("n_grams"))
    totals
      .join(contaminated(train, evalSet, n, idCol, textCol, normalize),
        Seq(idCol), "left")
      .select(col(idCol), col("n_grams"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        when(col("n_grams") > 0,
          coalesce(col("n_overlap"), lit(0L)).cast("double") / col("n_grams"))
          .otherwise(lit(0.0)).as("frac"))
  }

  /** The drop step: training docs with no shared n-gram survive. */
  def removeContaminated(train: DataFrame, evalSet: DataFrame, n: Int = 3,
                         idCol: String = "doc_id", textCol: String = "text",
                         normalize: Boolean = false): DataFrame =
    train.join(contaminated(train, evalSet, n, idCol, textCol, normalize).select(idCol),
      Seq(idCol), "left_anti")
}
