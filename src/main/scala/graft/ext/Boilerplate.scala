package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Boilerplate span detection — the corpus-cleaning step that finds
  * n-gram spans repeated across MANY documents (headers, footers, license
  * blocks, navigation chrome) and scores each document by how much of it
  * is such repeated material. Span membership is doc-distinct: a span
  * repeated 50× inside ONE page is repetition ([[TextOps.topNgramCountOf]]'s
  * job), not boilerplate — document frequency is what distinguishes them.
  *
  * Scale shape (the [[ExactDedup]] hash-first idiom, applied to spans):
  * the df-counting shuffle — the wide one, |distinct spans per doc| rows —
  * carries only an 8-byte `xxhash64(span)`, not span text. Span TEXT moves
  * only for spans whose hash group passed the df threshold (the
  * boilerplate sliver): a second scan semi-joins the hot-hash set (tiny —
  * AQE broadcasts it at any realistic boilerplate cardinality, same as
  * ExactDedup's dup-key set) and re-groups by the span STRING itself, so a
  * 64-bit collision can inflate a candidate into the verify pass but can
  * never promote a rare span into the output.
  */
object Boilerplate {

  /** (id, gl) — each doc's DISTINCT n-gram spans, within-row. */
  private def docSpans(docs: DataFrame, idCol: String, textCol: String,
                       n: Int): DataFrame =
    docs.select(col(idCol).as("id"),
      array_distinct(Decontaminate.ngrams(textCol, n)).as("gl"))

  /** Distinct n-gram spans with document frequency ≥ `minDf`:
    * `(gram, df)`. Two corpus scans (columnar, projection-pushed), no
    * payload-carrying wide shuffle — see the object doc.
    */
  def spans(docs: DataFrame, idCol: String = "doc_id",
            textCol: String = "text", n: Int = 3, minDf: Long = 5L): DataFrame = {
    require(n >= 1, s"spans: n must be >= 1, got $n")
    require(minDf >= 1, s"spans: minDf must be >= 1, got $minDf")
    // one scan, persisted for the two passes (round 16 — the same shared-
    // scan discipline as [[coverage]]; previously each pass re-ran the
    // tokenize + n-gram + array_distinct corpus scan)
    val pairs = docSpans(docs, idCol, textCol, n)
      .select(explode(col("gl")).as("gram"))
      .select(col("gram"), xxhash64(col("gram")).as("h"))
      .persist()
    // pass 1: df per 8-byte span hash (doc-distinct by construction)
    val hot = pairs.select(col("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
      .select(col("h"))
    // pass 2: span text only for hot hashes; re-count by the span itself
    // and re-apply the threshold (a colliding pair of rare spans can pass
    // pass 1 jointly but never this one separately)
    pairs
      .join(hot, Seq("h"), "left_semi")
      .groupBy(col("gram")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
  }

  /** Line-level boilerplate REMOVAL — the C4-style cleaning rule: a LINE
    * (text between `sep` occurrences) that appears in ≥ `minDf` distinct
    * documents is chrome (footer, nav, license banner), and every
    * occurrence of it is excised from every document; what remains is
    * re-joined with `sep` in original order. Complements [[spans]]/
    * [[coverage]] (which measure n-gram overlap): lines are the
    * granularity at which web boilerplate actually repeats, so removal at
    * line level never tears a sentence in half.
    *
    * Rules: document frequency is doc-distinct (a line repeated 50× in ONE
    * page counts once); empty lines are never candidates (blank separators
    * are structure, not content) and always survive; removal drops ALL
    * occurrences in a doc, not just the first.
    *
    * Scale shape: the df shuffle is hash-first (8-byte `xxhash64(line)`),
    * line TEXT moves only for the hot sliver and is re-counted by the
    * string itself (collision-safe, see the object doc); removal is an
    * anti join of exploded lines against that sliver (AQE broadcasts it)
    * and ONE reassembly shuffle keyed by doc id.
    *
    * Output: `(idCol, clean_text, n_lines, n_removed)` — docs whose every
    * line was boilerplate come back with `clean_text = ""`.
    */
  def removeLines(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text", minDf: Long = 5L,
                  sep: String = "\n"): DataFrame = {
    require(minDf >= 1, s"removeLines: minDf must be >= 1, got $minDf")
    require(sep.nonEmpty, "removeLines: sep must be non-empty")
    val ls = split(col(textCol), java.util.regex.Pattern.quote(sep))
    val lines = docs.select(col(idCol).as("id"),
        explode(array_distinct(ls)).as("line"))
      .filter(length(col("line")) > 0)
    val hot = lines.select(xxhash64(col("line")).as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
      .select(col("h"))
    val boiler = lines.select(col("line"), xxhash64(col("line")).as("h"))
      .join(hot, Seq("h"), "left_semi")
      .groupBy(col("line")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
      .select(col("line"))
    val el = docs.select(col(idCol).as("id"), posexplode(ls).as(Seq("pos", "line")))
    val rebuilt = el.join(boiler, Seq("line"), "left_anti")
      .groupBy(col("id"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("line")))),
          x => x.getField("line")), sep).as("clean_text"),
        count(lit(1)).as("__kept"))
    docs.select(col(idCol).as("id"), size(ls).cast("int").as("n_lines"))
      .join(rebuilt, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_lines"),
        (col("n_lines") - coalesce(col("__kept"), lit(0L))).cast("int").as("n_removed"))
  }

  /** Per-document boilerplate coverage: `(idCol, n_spans, n_boiler,
    * boiler_ratio)` — distinct spans, how many are corpus-boilerplate
    * (df ≥ `minDf`), and their ratio (one exact-integer IEEE division —
    * cross-engine bit-identical). Docs with fewer than `n` tokens have no
    * spans and are excluded (no population to measure). The boilerplate
    * set joins back by span equality — collision-safe end to end.
    */
  def coverage(docs: DataFrame, idCol: String = "doc_id",
               textCol: String = "text", n: Int = 3, minDf: Long = 5L): DataFrame = {
    // ONE corpus scan: each doc's distinct spans exploded once with their
    // hash, persisted for the FOUR consumers below (df-by-hash, the
    // hot-sliver re-count by string, the per-doc hit count, the per-doc
    // denominator). The previous form re-ran the tokenize + n-gram +
    // array_distinct scan per consumer — 4 corpus passes for one answer
    // (round-16 decomposition; the JaccardDedup/CosineJoin persist
    // discipline — reps share one cache entry, plans canonicalize equal).
    // n_spans = the exploded row count per doc (spans are row-distinct by
    // construction, so count ≡ size(gl)); docs with no spans are excluded
    // before the explode, same contract as before.
    val g = docSpans(docs, idCol, textCol, n)
      .filter(size(col("gl")) >= 1)
      .select(col("id"), explode(col("gl")).as("gram"))
      .select(col("id"), col("gram"), xxhash64(col("gram")).as("h"))
      .persist()
    // pass 1 of the hash-first idiom ([[spans]]), now over the shared scan
    val hot = g.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
      .select(col("h"))
    // pass 2: span text only for hot hashes, re-counted by the span itself
    // (collision-safe, identical to [[spans]])
    val boiler = g.select(col("gram"), col("h"))
      .join(hot, Seq("h"), "left_semi")
      .groupBy(col("gram")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
      .select(col("gram"))
    val hits = g.join(boiler, Seq("gram"), "left_semi")
      .groupBy(col("id")).agg(count(lit(1)).as("__nb"))
    g.groupBy(col("id")).agg(count(lit(1)).cast("int").as("n_spans"))
      .join(hits, Seq("id"), "left")
      .select(col("id").as(idCol), col("n_spans"),
        coalesce(col("__nb"), lit(0L)).cast("int").as("n_boiler"),
        (coalesce(col("__nb"), lit(0L)).cast("double") / col("n_spans"))
          .as("boiler_ratio"))
  }
}
