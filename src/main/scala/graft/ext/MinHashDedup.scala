package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Materialize

/** MinHash + LSH near-duplicate detection, the scale path for fuzzy dedup
  * (SURVEY.md §7.3 M3; standard shingle→minhash→band→bucket-join design).
  *
  * Pipeline (all narrow columnar ops until the single band-bucket shuffle):
  *  1. shingles: lowercase word k-grams per document (k=3);
  *  2. signature: H minhash values via the double-hashing trick
  *     h_i(s) = h1(s) + i*h2(s) (h1 = xxhash64, h2 = murmur3) — avoids H
  *     separate hash passes over the shingle array;
  *  3. banding: split the H-vector into b bands of r rows (H = b*r); two docs
  *     collide in a band iff that band's sub-signature matches exactly;
  *  4. ONE shuffle: explode bands → groupBy (band, key) → candidate pairs;
  *  5. verify: join candidates back to exact shingle sets, compute true
  *     Jaccard, keep pairs ≥ threshold.
  *
  * At 100 TB the only wide ops are the band groupBy (keys are ~uniform 64-bit
  * hashes — no skew) and the verify join (candidates ≪ corpus). Everything
  * per-document is fused into the scan. P(candidate | jaccard=j) =
  * 1-(1-j^r)^b; defaults (b=32, r=4) give ~0.97 at j=0.7, ~0.007 at j=0.2.
  */
object MinHashDedup {

  /** doc_id + shingle-hash set + signature.
    *
    * Shingling, hashing, and the 128-way min-fold all run inside the two
    * native expressions [[graft.functions.ShingleHashes]] /
    * [[graft.functions.MinHashSignature]] — tight primitive loops, no
    * per-seed array allocation. The earlier pure-SQL higher-order version
    * (`transform(sequence(0,127), i -> array_min(zip_with(...)))`) measured
    * ~10 s for 5000 docs at sf0.1; this one ~0.5 s. Shingle identity is a
    * hash, not a string — MinHash and Jaccard only need set semantics.
    */
  def signatures(docs: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text", h: Int = 128, k: Int = 3): DataFrame =
    docs.select(col(idCol),
        graft.functions.GraftFunctions
          .shingle_hashes(split(lower(col(textCol)), " "), k).as("shingles"))
      .filter(size(col("shingles")) > 0)
      .withColumn("sig",
        graft.functions.GraftFunctions.minhash_signature(col("shingles"), h))

  /** Pure-SQL md5-surrogate signatures: the oracle-expressible executable
    * spec twin of [[signatures]]. Shingle identity is the 3-gram STRING;
    * its two base hashes come from disjoint md5 hex ranges (chars 1–15 and
    * 16–30, each a 60-bit int parseable identically by Spark's `conv` and
    * DuckDB's `'0x…'::BIGINT`), reduced mod 2^31−1 so the double-hashing
    * combine `(h1 + i·h2) mod p` never overflows a BIGINT in either engine
    * (DuckDB errors on overflow where the JVM wraps — the modulus is what
    * makes the twin cross-engine exact). Returns
    * `(idCol, shingles array<string>, sigs array<bigint> length h)`; docs
    * with < k words have no shingles and are excluded, mirroring
    * [[signatures]]' empty filter. Production stays on the native one-pass
    * kernels; this twin exists so the banding+verify machinery gets a
    * hash-matched DuckDB oracle instead of rows-only evidence.
    */
  def signaturesMd5(docs: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text", h: Int = 16, k: Int = 3): DataFrame =
    // definitional SQL form (what the DuckDB oracle mirrors verbatim):
    //   hs   = transform(shingles, s -> struct(
    //            cast(conv(substr(md5(s), 1, 15), 16, 10) as bigint) % 2147483647 AS h1,
    //            cast(conv(substr(md5(s), 16, 15), 16, 10) as bigint) % 2147483647 AS h2))
    //   sigs = transform(sequence(0, h-1),
    //            i -> array_min(transform(hs, p -> (p.h1 + i*p.h2) % 2147483647)))
    // executed through the native one-pass kernel (graft.functions.Md5Twin,
    // value-identical — pinned in Md5TwinKernelSpec): the hex-string round
    // trip (md5 → hex → substr → conv) plus the per-row struct array and
    // per-seed array_min allocations measured ~2× the whole signature scan
    shingleSetsMd5(docs, idCol, textCol, k)
      .select(col(idCol), col("shingles"),
        graft.functions.GraftFunctions.md5_minhash_sigs(col("shingles"), h).as("sigs"))

  /** The md5 twin's shingle universe on its own: `(idCol, shingles)` with
    * shingles the distinct lowercase word k-gram STRINGS; docs with NULL
    * text or < k words are excluded (mirroring [[signatures]]' empty
    * filter). Shared by [[signaturesMd5]] and [[exactPairsMd5]] so sketch
    * and ground truth are definitionally over the same sets.
    */
  def shingleSetsMd5(docs: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text", k: Int = 3): DataFrame =
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol),
        expr(s"split(lower($textCol), ' ')").as("ws"))
      .filter(size(col("ws")) >= k)
      .select(col(idCol),
        expr(s"""array_distinct(transform(sequence(0, size(ws) - $k),
          i -> concat_ws(' ', slice(ws, i + 1, $k))))""").as("shingles"))

  /** Exact-Jaccard ground truth over [[shingleSetsMd5]]'s universe —
    * ALL pairs with true Jaccard ≥ `minJaccard`, computed without the
    * sketch. Pairs at any threshold > 0 share ≥ 1 shingle, so candidates
    * come from a KEYED self-join on the exploded shingle (lossless — the
    * exact analog of an inverted index), intersection sizes from one
    * grouped count, and the Jaccard from set sizes: never an all-pairs
    * product. This is the eval substrate for measuring LSH recall
    * (`x_dedup_minhash_recall`): heavier than the banded sketch by design
    * — the point of the sketch is to avoid this join's common-shingle
    * fan-out — but every operation is keyed, so it runs at corpus scale
    * when an eval slice needs ground truth.
    *
    * Returns the pairs pinned ([[graft.Materialize]]); the shingle sets,
    * read four times, are cached only for the call.
    */
  def exactPairsMd5(docs: DataFrame, minJaccard: Double = 0.5,
                    idCol: String = "doc_id", textCol: String = "text",
                    k: Int = 3): DataFrame =
    Materialize.using(shingleSetsMd5(docs, idCol, textCol, k)) { sets =>
      val sh = sets.select(col(idCol), explode(col("shingles")).as("s"))
      val inter = sh.toDF("doc_a", "s")
        .join(sh.toDF("doc_b", "s"), Seq("s"))
        .filter(col("doc_a") < col("doc_b"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).as("inter"))
      val sizes = sets.select(col(idCol), size(col("shingles")).as("n"))
      Materialize.pin(inter
        .join(sizes.toDF("doc_a", "na"), Seq("doc_a"))
        .join(sizes.toDF("doc_b", "nb"), Seq("doc_b"))
        .withColumn("jaccard",
          col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
        .filter(col("jaccard") >= minJaccard)
        .select(col("doc_a"), col("doc_b"), col("jaccard")))
    }

  /** LSH banding + exact-Jaccard verify over [[signaturesMd5]] output —
    * the twin's pair search. Same scale shape as [[nearDuplicates]]: ONE
    * shuffle on the band key (band index + the band's sub-signature,
    * serialized — only `(band_key, id)` rows move), candidates ≪ corpus,
    * shingle sets fetched only for candidates. The DuckDB oracle answers
    * the same question by brute force (any-band sub-signature equality over
    * all pairs, then exact Jaccard), so banding + verify are pinned
    * cross-engine end to end.
    */
  /** Banded candidate pairs `(doc_a, doc_b)` over a [[signaturesMd5]]
    * frame — the ONE place the band-key encoding and candidate rule live,
    * shared by the pair search and the estimator calibration so both see
    * the identical candidate population (a divergence here would make the
    * calibration measure a different threshold population than the dedup
    * it calibrates).
    */
  private def bandedCandidatesMd5(sigs: DataFrame, idCol: String,
                                  h: Int, bands: Int): DataFrame = {
    val r = h / bands
    val banded = sigs
      .select(col(idCol),
        explode(expr(s"""transform(sequence(0, ${bands - 1}),
          b -> concat(b, ':', array_join(transform(slice(sigs, b * $r + 1, $r),
            v -> cast(v as string)), ',')))""")).as("band_key"))
    banded.toDF("doc_a", "band_key")
      .join(banded.toDF("doc_b", "band_key"), Seq("band_key"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .dropDuplicates("doc_a", "doc_b")
  }

  def nearDuplicatesMd5(docs: DataFrame, minJaccard: Double = 0.5,
                        idCol: String = "doc_id", textCol: String = "text",
                        h: Int = 16, bands: Int = 4, k: Int = 3): DataFrame = {
    val sigs = signaturesMd5(docs, idCol, textCol, h, k).persist()
    bandedCandidatesMd5(sigs, idCol, h, bands)
      .join(sigs.select(col(idCol).as("doc_a"), col("shingles").as("sh_a")), "doc_a")
      .join(sigs.select(col(idCol).as("doc_b"), col("shingles").as("sh_b")), "doc_b")
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
      .filter(col("jaccard") >= minJaccard)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** MinHash ESTIMATOR CALIBRATION over the md5 twin (round 14): for every
    * banded candidate pair, the sketch's Jaccard estimate — the fraction
    * of the h signature components that agree (the unbiased MinHash
    * estimator, Broder 1997) — next to the EXACT shingle Jaccard. This is
    * the eval an operator runs before trusting sketch-thresholded dedup at
    * a new h: the estimate's spread around the truth IS the false
    * accept/reject rate of any threshold placed on it. Candidates (not all
    * pairs) deliberately: the banded set is exactly the population a
    * production threshold sees. est = matches/h is one exact small-int
    * divide by a power of two — bit-identical cross-engine; the exact
    * Jaccard is the [[exactPairsMd5]] expression. Same scale shape as
    * [[nearDuplicatesMd5]] (the SAME [[bandedCandidatesMd5]] population):
    * one band-key shuffle, arrays join in for candidates only.
    *
    * Returns the candidate-pair-sized result pinned; the signature frame
    * is cached only for the call.
    */
  def estimateVsExactMd5(docs: DataFrame, idCol: String = "doc_id",
                         textCol: String = "text",
                         h: Int = 16, bands: Int = 4, k: Int = 3): DataFrame =
    Materialize.using(signaturesMd5(docs, idCol, textCol, h, k)) { sigs =>
      Materialize.pin(bandedCandidatesMd5(sigs, idCol, h, bands)
        .join(sigs.select(col(idCol).as("doc_a"),
          col("shingles").as("sh_a"), col("sigs").as("sg_a")), "doc_a")
        .join(sigs.select(col(idCol).as("doc_b"),
          col("shingles").as("sh_b"), col("sigs").as("sg_b")), "doc_b")
        .select(col("doc_a"), col("doc_b"),
          (expr("""aggregate(zip_with(sg_a, sg_b,
               (x, y) -> CASE WHEN x = y THEN 1 ELSE 0 END), 0, (acc, v) -> acc + v)""")
            .cast("double") / lit(h.toDouble)).as("est"),
          (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
            size(array_union(col("sh_a"), col("sh_b")))).as("jaccard")))
    }

  /** The incremental md5-twin core, over two [[signaturesMd5]]-shaped
    * frames (`idCol`, shingles, sigs): batch ids near-duplicating NOTHING
    * in `corpusSigs` (any-band sub-signature collision, then exact shingle
    * Jaccard ≥ `minJaccard`). `batchIds` is the FULL batch id set — batch
    * docs too short to shingle carry no near-dup evidence and come back
    * novel, the [[newAgainstCorpus]] contract. Taking sig frames (not
    * documents) is what makes the corpus side SERVABLE FROM STATE: the
    * maintained signature ledger
    * ([[graft.streaming.MinHashLedgerStream]]) plugs in directly, so the
    * steady-state flow the [[newAgainstCorpus]] doc promises — corpus
    * sketched once, per-ingest cost = batch sketch + one keyed band join —
    * is this function over stored state. Scale shape unchanged: only
    * `(band_key, id)` rows cross the LSH shuffle, shingle arrays join in
    * for candidates only.
    *
    * With `materialize = true` (the default) both sig frames are cached
    * only for the call and the batch-id-sized result comes back pinned,
    * so a per-micro-batch probe loop never accumulates corpus-sized
    * blocks. `materialize = false` returns the lazy plan, for a caller
    * that passes sig frames it already caches and owns; shared with
    * [[SimHash.novelAgainstSigs]].
    */
  def novelAgainstSigsMd5(batchIds: DataFrame, batchSigs: DataFrame,
                          corpusSigs: DataFrame, minJaccard: Double = 0.5,
                          h: Int = 16, bands: Int = 4,
                          idCol: String = "doc_id",
                          materialize: Boolean = true): DataFrame = {
    require(bands >= 1 && h % bands == 0,
      s"minhash: h must be divisible by bands (h=$h, bands=$bands) — a " +
        "ragged band slice would band on short/empty sub-signatures")
    val r = h / bands
    // each side feeds banding AND verify — persist for the call
    // (measured: the unpersisted form re-ran the md5 sketch per consumer,
    // 14.3 s warm vs 0.5 s for the persisted pairs twin at sf0.1)
    val bs = if (materialize) batchSigs.persist() else batchSigs
    val cs = if (materialize) corpusSigs.persist() else corpusSigs
    def banded(sigs: DataFrame, as: String) = sigs
      .select(col(idCol).as(as),
        explode(expr(s"""transform(sequence(0, ${bands - 1}),
          b -> concat(b, ':', array_join(transform(slice(sigs, b * $r + 1, $r),
            v -> cast(v as string)), ',')))""")).as("band_key"))
    val candidates = banded(bs, "batch_id")
      .join(banded(cs, "corpus_id"), Seq("band_key"))
      .select("batch_id", "corpus_id")
      .dropDuplicates("batch_id", "corpus_id")
    val matched = candidates
      .join(bs.select(col(idCol).as("batch_id"), col("shingles").as("sh_a")), "batch_id")
      .join(cs.select(col(idCol).as("corpus_id"), col("shingles").as("sh_b")), "corpus_id")
      .filter(size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
        size(array_union(col("sh_a"), col("sh_b"))) >= minJaccard)
      .select(col("batch_id").as(idCol)).distinct()
    val novel = batchIds.select(col(idCol)).join(matched, Seq(idCol), "left_anti")
    if (!materialize) novel
    else {
      // pin BEFORE releasing the sig frames: the result is computed from them
      Materialize.pin(novel)
      Materialize.release(bs)
      Materialize.release(cs)
      novel
    }
  }

  /** md5-twin of [[newAgainstCorpus]] — both sides sketched via
    * [[signaturesMd5]], novelty via [[novelAgainstSigsMd5]]. Exists so the
    * incremental flow gets a full DuckDB oracle (brute-force any-band
    * match + exact Jaccard over batch × corpus), which also pins the
    * maintained-ledger probe — maintained == recompute is one oracle.
    */
  def newAgainstCorpusMd5(batch: DataFrame, corpus: DataFrame,
                          minJaccard: Double = 0.5,
                          idCol: String = "doc_id", textCol: String = "text",
                          h: Int = 16, bands: Int = 4, k: Int = 3): DataFrame =
    novelAgainstSigsMd5(batch.select(col(idCol)),
      signaturesMd5(batch, idCol, textCol, h, k),
      signaturesMd5(corpus, idCol, textCol, h, k),
      minJaccard, h, bands, idCol)

  /** Candidate pairs via LSH banding, then exact-Jaccard verification.
    * Returns (doc_a, doc_b, jaccard) with doc_a < doc_b, jaccard ≥ minJaccard.
    */
  def nearDuplicates(docs: DataFrame, minJaccard: Double = 0.7,
                     idCol: String = "doc_id", textCol: String = "text",
                     h: Int = 128, bands: Int = 32): DataFrame = {
    val r = h / bands
    // shingle sets are used three times (banding + both sides of the
    // verification join) — persist beats recomputation even with the cheap
    // native sketch expressions (measured: 1.2s warm cached vs 7.5s
    // recomputed at sf0.1). Kept on purpose as a SESSION cache: it lives
    // until `Materialize.release` or `clearCache`, and calls with the same
    // plan share the one entry, so repeat callers never stack copies.
    val sigs = signatures(docs, idCol, textCol, h).persist()

    // band key: hash of the band's sub-signature (+ band index so buckets
    // of different bands never collide). CRITICAL scale property: only
    // (band_key, doc_id) pairs flow through the LSH shuffle — never the
    // shingle arrays (shipping payloads through the explode+join is what
    // turns LSH into a data explosion at scale).
    val banded = sigs
      .select(col(idCol),
        expr(s"""transform(sequence(0, ${bands - 1}),
          b -> hash(b, slice(sig, b * $r + 1, $r)))""").as("band_keys"))
      .select(col(idCol), explode(col("band_keys")).as("band_key"))

    val candidates = banded.toDF("doc_a", "band_key")
      .join(banded.toDF("doc_b", "band_key"), Seq("band_key"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .dropDuplicates("doc_a", "doc_b")

    // verification: join the (small) candidate set back to shingle sets
    val withSets = candidates
      .join(sigs.select(col(idCol).as("doc_a"), col("shingles").as("sh_a")), "doc_a")
      .join(sigs.select(col(idCol).as("doc_b"), col("shingles").as("sh_b")), "doc_b")

    withSets
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
      .filter(col("jaccard") >= minJaccard)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Incremental near-dup — the daily-ingest fuzzy flow: which docs of a
    * NEW batch near-duplicate (shingle Jaccard ≥ `minJaccard`) NOTHING in
    * the existing corpus? The exact-content twin is
    * [[ExactDedup.newAgainstCorpus]]; this one catches the re-crawled page
    * with a changed date stamp. History is never re-deduped, and
    * within-batch near-dups are deliberately retained (compose with
    * [[nearDuplicates]] for that half).
    *
    * Shape: both sides sketch independently (narrow, fused with their
    * scans); ONE keyed shuffle joins batch band keys against corpus band
    * keys — `(band_key, id)` rows only, never shingle arrays — and only
    * band-collided candidates fetch shingle sets for the exact-Jaccard
    * verify. At steady state the corpus re-sketch is replaced by
    * precomputed tables ([[signatures]] output written once, band keys
    * bucketed by `band_key`) with the batch-side plan unchanged. A true
    * near-dup that LSH banding misses stays "novel" — recall is the
    * banding curve (see the object doc), which is the operator's contract.
    * Batch docs too short to shingle (< k words) carry no near-dup
    * evidence and are returned as novel.
    */
  def newAgainstCorpus(batch: DataFrame, corpus: DataFrame,
                       minJaccard: Double = 0.7,
                       idCol: String = "doc_id", textCol: String = "text",
                       h: Int = 128, bands: Int = 32): DataFrame = {
    val r = h / bands
    def banded(sigs: DataFrame, as: String) = sigs
      .select(col(idCol).as(as),
        explode(expr(s"""transform(sequence(0, ${bands - 1}),
          b -> hash(b, slice(sig, b * $r + 1, $r)))""")).as("band_key"))
    // each side's sketch feeds banding AND verify — persist, the same
    // session cache as nearDuplicates
    val bs = signatures(batch, idCol, textCol, h).persist()
    val cs = signatures(corpus, idCol, textCol, h).persist()
    val candidates = banded(bs, "batch_id")
      .join(banded(cs, "corpus_id"), Seq("band_key"))
      .select("batch_id", "corpus_id")
      .dropDuplicates("batch_id", "corpus_id")
    val matched = candidates
      .join(bs.select(col(idCol).as("batch_id"), col("shingles").as("sh_a")), "batch_id")
      .join(cs.select(col(idCol).as("corpus_id"), col("shingles").as("sh_b")), "corpus_id")
      .filter(size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
        size(array_union(col("sh_a"), col("sh_b"))) >= minJaccard)
      .select(col("batch_id").as(idCol)).distinct()
    batch.select(col(idCol)).join(matched, Seq(idCol), "left_anti")
  }
}
