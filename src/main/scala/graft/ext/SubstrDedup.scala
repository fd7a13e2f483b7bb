package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Materialize

/** Exact-substring duplication — the character-level dedup family of
  * Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
  * Better", ExactSubstr): a substring of length ≥ k that occurs more than
  * once ANYWHERE in the corpus (across documents or within one) is
  * duplicated text, and training pipelines either measure it (a quality
  * signal) or cut every occurrence but the first. This is a different axis
  * from every other dedup in the engine: [[ExactDedup]] is whole-document,
  * [[JaccardDedup]]/[[MinHashDedup]] are document-level set overlap, and
  * [[Boilerplate]] keys on document frequency (many DISTINCT docs) at
  * token-n-gram granularity — none of them see a long passage pasted twice
  * into two (or one) documents.
  *
  * Algorithm: the published implementation builds a suffix array over the
  * concatenated corpus (8 B/char of index state). The distributed
  * formulation here is the standard k-window reduction: every character
  * position opens a stride-1 window of k chars, a window whose content
  * occurs ≥ 2 times marks its position as duplicated, and runs of
  * consecutive duplicated positions merge into maximal spans (a shared
  * passage of length L ≥ k yields L−k+1 consecutive marked positions →
  * exactly one span of length L). Per-position state is 20 B (hash + id +
  * pos) — the same cost class as the suffix array, shuffled by hash
  * instead of sorted globally.
  *
  * Scale shape (the [[Boilerplate]]/[[ExactDedup]] hash-first idiom): the
  * corpus-sized shuffle carries only a 64-bit window hash + (id, pos);
  * window TEXT moves only for positions whose hash group reached count ≥ 2
  * (the duplicated sliver), where it is re-grouped by the string itself —
  * a 64-bit collision can inflate the candidate sliver but never mark a
  * unique span as duplicated. Island-merging windows over `id` are bounded
  * by a single document's length, never by corpus shape. Window hashing is
  * the [[graft.functions.RollingWindowHashes]] Rabin-Karp kernel — O(1)
  * amortized per position in one codegen pass, instead of an O(k) substr +
  * hash per position (which also allocated k chars per corpus character).
  */
object SubstrDedup {

  /** All stride-1 k-window HASHES: `(id, pos, h)` with `pos` a 0-based
    * code-point ordinal — one O(n) Rabin-Karp pass per document
    * ([[graft.functions.RollingWindowHashes]]), never a per-position
    * substr; docs shorter than k have no windows. 24 B/row, no text.
    * Cheap to re-scan (projection-pushed columnar read + one rolling
    * pass), so callers materialize the hot subset, not this frame.
    */
  private def windowHashes(docs: DataFrame, idCol: String, textCol: String,
                           k: Int): DataFrame =
    docs.filter(length(col(textCol)) >= k)
      .select(col(idCol).as("id"),
        posexplode(graft.functions.GraftFunctions.rolling_window_hashes(
          col(textCol), k)).as(Seq("pos", "h")))
      .select(col("id"), col("pos").cast("long").as("pos"), col("h"))

  /** Duplicated positions `(id, pos, is_first)`: the k-window at `pos`
    * occurs ≥ 2 times corpus-wide, and `is_first` marks the corpus-first
    * occurrence of its content (ids then positions ascending). Two passes —
    * count by 8-byte hash, then re-verify the hot sliver by window text
    * (collision-safe; see the object doc).
    *
    * This is the once-per-corpus scan, and the returned ledger comes back
    * pinned ([[graft.Materialize]]): the candidate sliver (17 B + a k-char
    * gram per row, feeding both the verify aggregation and the final
    * occurrence join) is cached only for the call, and only the 17 B/row
    * ledger stays. Ledger size is bounded by
    * the corpus's actual duplicated content (+ hash collisions), never
    * the corpus — the same bounded-ledger discipline as the CC pair
    * graph.
    */
  def dupOccurrences(docs: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text", k: Int = 40): DataFrame = {
    require(k >= 1, s"dup substrings: k must be >= 1, got $k")
    val wh = windowHashes(docs, idCol, textCol, k)
    val hot = wh.select(col("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2).select(col("h"))
    // the semi-join moves only (id, pos, h) — 24 B/row whatever join
    // strategy the sliver size dictates; window TEXT is sliced ONLY for
    // the surviving positions, by joining the sliver back to the docs
    // (sliver-sized side broadcasts under AQE, so corpus text is scanned,
    // not shuffled)
    val slim = wh.join(hot, Seq("h"), "left_semi").select(col("id"), col("pos"))
    Materialize.using(slim
        .join(docs.select(col(idCol).as("id"), col(textCol).as("__t")), Seq("id"))
        .select(col("id"), col("pos"),
          col("__t").substr(col("pos").cast("int") + 1, lit(k)).as("gram"))) { cand =>
      val dup = cand.groupBy(col("gram"))
        .agg(count(lit(1)).as("cnt"),
          min(struct(col("id"), col("pos"))).as("first"))
        .filter(col("cnt") >= 2)
      Materialize.pin(cand.join(dup, Seq("gram"))
        .select(col("id"), col("pos"),
          (col("first.id") === col("id") && col("first.pos") === col("pos"))
            .as("is_first")))
    }
  }

  /** Duplicated positions → maximal DISJOINT spans
    * `(id, span_start, span_end, span_len)` with end exclusive. Each
    * position covers `[pos, pos+k)`; two positions whose gap is < k cover
    * overlapping character ranges, so the grouping breaks only at gaps
    * ≥ k — an interval-union pass, not merely a consecutive-run pass. Two
    * duplicated passages starting within k chars of each other (separated
    * by a sub-k unique stretch) therefore merge into ONE span instead of
    * two overlapping ones, which is what keeps `dup_chars ≤ n_chars` in
    * [[dupStats]] and the segment arithmetic in [[cleanText]] exact.
    * Consecutive output spans are separated by ≥ k, i.e. pairwise
    * disjoint (at most touching). The windows partition by document id —
    * bounded by one doc's length, not corpus shape (unlike the
    * domain-quota anti-pattern).
    */
  private def islands(pos: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("id")).orderBy(col("pos"))
    pos
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(w) < k, lit(0L))
          .otherwise(lit(1L)))
      .withColumn("grp", sum(col("brk")).over(w))
      .groupBy(col("id"), col("grp"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + k).as("span_end"))
      .select(col("id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start")).as("span_len"))
  }

  /** [[dupSpans]] from a precomputed (cached) [[dupOccurrences]] frame. */
  def spansFrom(occ: DataFrame, idCol: String = "doc_id", k: Int = 40): DataFrame =
    islands(occ.select(col("id"), col("pos")), k).withColumnRenamed("id", idCol)

  /** [[cutSpans]] from a precomputed (cached) [[dupOccurrences]] frame. */
  def cutFrom(occ: DataFrame, idCol: String = "doc_id", k: Int = 40): DataFrame =
    islands(occ.filter(!col("is_first")).select(col("id"), col("pos")), k)
      .withColumnRenamed("id", idCol)

  /** [[dupStats]] from a precomputed (cached) [[dupOccurrences]] frame. */
  def statsFrom(docs: DataFrame, occ: DataFrame, idCol: String = "doc_id",
                textCol: String = "text", k: Int = 40): DataFrame = {
    val spans = spansFrom(occ, idCol, k)
      .groupBy(col(idCol)).agg(sum(col("span_len")).as("__dup"))
    docs.select(col(idCol), length(col(textCol)).cast("long").as("n_chars"))
      .join(spans, Seq(idCol), "left")
      .select(col(idCol), col("n_chars"),
        coalesce(col("__dup"), lit(0L)).as("dup_chars"),
        when(col("n_chars") === 0L, lit(0.0))
          .otherwise(coalesce(col("__dup"), lit(0L)).cast("double") /
            col("n_chars")).as("dup_fraction"))
  }

  /** Maximal duplicated spans per document: every k-window starting inside
    * `[span_start, span_end - k]` occurs ≥ 2 times corpus-wide. The
    * measurement form — both copies of a duplicated passage report a span.
    */
  def dupSpans(docs: DataFrame, idCol: String = "doc_id",
               textCol: String = "text", k: Int = 40): DataFrame =
    spansFrom(dupOccurrences(docs, idCol, textCol, k), idCol, k)

  /** Per-document duplication metrics over ALL docs (spanless docs report
    * zero): `(idCol, n_chars, dup_chars, dup_fraction)` — dup_chars is the
    * total length of [[dupSpans]] spans, the "fraction of characters in
    * duplicated text" gate published pipelines threshold on. One exact
    * integer-over-integer IEEE division, cross-engine bit-identical.
    */
  def dupStats(docs: DataFrame, idCol: String = "doc_id",
               textCol: String = "text", k: Int = 40): DataFrame =
    statsFrom(docs, dupOccurrences(docs, idCol, textCol, k), idCol, textCol, k)

  /** The cleaned corpus under the keep-first policy: [[cutFrom]] spans
    * are excised from each document and the surviving segments stitched
    * back in order — `(idCol, clean_text, n_cut, cut_chars)`. Cut spans
    * are pairwise disjoint BY CONSTRUCTION — `islands` merges any
    * positions within k of each other, so consecutive spans are ≥ k
    * apart — so the complement segments are
    * `[0, start_1), [end_1, start_2), …, [end_n, len)`: built from two
    * independently sorted per-doc arrays (disjointness makes start-order
    * and end-order agree and every segment length non-negative), stitched
    * with one `array_join`. All per-doc array work is bounded by one
    * document's span count; docs with nothing to cut pass through
    * verbatim.
    */
  def cleanText(docs: DataFrame, occ: DataFrame, idCol: String = "doc_id",
                textCol: String = "text", k: Int = 40): DataFrame = {
    val spans = cutFrom(occ, idCol, k)
      .groupBy(col(idCol))
      .agg(array_sort(collect_list(col("span_start"))).as("ss"),
        array_sort(collect_list(col("span_end"))).as("es"),
        count(lit(1)).as("n_cut"),
        sum(col("span_len")).as("cut_chars"))
    docs.select(col(idCol), col(textCol),
        length(col(textCol)).cast("long").as("__len"))
      .join(spans, Seq(idCol), "left")
      .select(col(idCol), col(textCol), col("__len"),
        concat(array(lit(0L)),
          coalesce(col("es"), array().cast("array<bigint>"))).as("segs"),
        concat(coalesce(col("ss"), array().cast("array<bigint>")),
          array(col("__len"))).as("sege"),
        coalesce(col("n_cut"), lit(0L)).cast("int").as("n_cut"),
        coalesce(col("cut_chars"), lit(0L)).as("cut_chars"))
      .select(col(idCol),
        array_join(zip_with(col("segs"), col("sege"),
          (a, b) => col(textCol).substr((a + 1).cast("int"), (b - a).cast("int"))),
          "").as("clean_text"),
        col("n_cut"), col("cut_chars"))
  }

  /** Keep-first-occurrence cut plan: spans built only from REDUNDANT
    * positions — occurrences that are not the corpus-first `(id, pos)`
    * (ids then positions ascending) of their window content. The first
    * copy of a passage survives untouched; every later copy is covered by
    * a cut span. The argmin is a partially-aggregatable `min(struct)` —
    * a pathologically repeated window combines map-side, never a window
    * function over the content key.
    */
  def cutSpans(docs: DataFrame, idCol: String = "doc_id",
               textCol: String = "text", k: Int = 40): DataFrame =
    cutFrom(dupOccurrences(docs, idCol, textCol, k), idCol, k)
}
