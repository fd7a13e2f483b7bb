package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Materialize

/** SimHash near-duplicate fingerprinting (64-bit).
  *
  * Per document: hash every token to 64 bits (xxhash64); bit i of the
  * simhash is 1 iff the count of tokens with bit i set exceeds half the
  * token count (the ±1-weighted-sum sign, rewritten counting-style so the
  * whole thing is integer arithmetic inside one columnar expression).
  *
  * Pair search uses the pigeonhole banding trick: for hamming distance ≤ 3,
  * at least one of 4 16-bit chunks must be identical, so candidates come
  * from ONE shuffle (groupBy chunk value) instead of an O(n²) cross join —
  * same scale shape as [[MinHashDedup]].
  */
object SimHash {

  /** Signature via the native [[graft.functions.SimHash64]] expression —
    * one pass over the tokens, ±1 counting per bit in a primitive loop (the
    * pure-SQL 64-lambda formulation re-hashed every token per bit and
    * measured ~10× slower).
    */
  def signatures(docs: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame =
    docs.select(col(idCol),
      graft.functions.GraftFunctions.simhash64(split(col(textCol), " ")).as("simhash"))

  /** Pure-SQL md5-surrogate signatures: the oracle-expressible executable
    * spec twin of [[signatures]]. Token hash = first 15 hex chars of md5
    * (60 bits, always signed-positive, identically parseable by Spark's
    * `conv` and DuckDB's `'0x…'::BIGINT`); per-bit majority over bits 0–59.
    * One O(64·T) lambda pass per doc — the production path stays on the
    * native one-pass xxhash64 kernel; this twin exists so the SHARED banding
    * machinery ([[nearDuplicatesFromSigs]]) gets a cross-engine hash-matched
    * oracle instead of rows-only evidence.
    */
  def signaturesMd5(docs: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame =
    // definitional SQL form (what the DuckDB oracle mirrors verbatim):
    //   hs = transform(split(text, ' '),
    //          t -> cast(conv(substr(md5(t), 1, 15), 16, 10) as bigint))
    //   aggregate(sequence(0, 59), 0L, (acc, b) ->
    //     acc + IF(2 * size(filter(hs, h -> (shiftright(h, b) & 1) = 1)) > size(hs),
    //              shiftleft(1L, b), 0L))
    // executed through the native one-pass kernel (graft.functions.Md5Twin,
    // value-identical — pinned in Md5TwinKernelSpec): the SQL form builds
    // 60 filter arrays per row on top of the hex-string md5 round trip
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol),
        graft.functions.GraftFunctions
          .md5_simhash60(split(col(textCol), " ")).as("simhash"))

  /** Pairs with hamming(simhash_a, simhash_b) ≤ maxDist (≤ 3 for exactness
    * of the 4-chunk pigeonhole; larger maxDist turns this into a recall<1
    * approximation, which is the standard trade at scale).
    */
  def nearDuplicates(docs: DataFrame, maxDist: Int = 3,
                     idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    nearDuplicatesFromSigs(signatures(docs, idCol, textCol), maxDist, idCol)

  /** Chunk-pigeonhole banding over an (id, simhash) frame — ONE shuffle on
    * (chunk_id, chunk_val), never an all-pairs join. Shared by the native
    * and md5-twin paths, so the twin's DuckDB oracle (an all-pairs hamming
    * scan, equal by pigeonhole exactness for maxDist ≤ 3) pins this exact
    * code path cross-engine.
    */
  /** The incremental core over two (id, simhash) frames: batch ids within
    * hamming ≤ `maxDist` of NO corpus signature (chunk-pigeonhole
    * candidates — ONE keyed shuffle — with the exact hamming verify inline).
    * `batchIds` is the FULL batch id set — docs the
    * sketch excluded (NULL text) carry no evidence and come back novel.
    * Taking sig frames is what makes the corpus side servable from
    * maintained state ([[graft.streaming.SimHashLedgerStream]]): the
    * corpus is fingerprinted once at ingest — 16 bytes per document, the
    * narrowest state of the dedup-ledger family — and a new batch's probe
    * costs its own sketch + one (chunk_id, chunk_val)-keyed join.
    *
    * `maxDist` is HARD-REQUIRED ≤ 3: the 4×16-bit chunk pigeonhole only
    * guarantees a shared chunk for hamming ≤ 3, so a larger bound would
    * silently miss candidates and report near-duplicates as novel — for an
    * operator whose contract is NOVELTY that is a wrong answer, not a
    * recall trade, so it fails loudly (round-12 ADVICE).
    *
    * `materialize` as in [[MinHashDedup.novelAgainstSigsMd5]]: `true`
    * caches both sig frames for the call and returns the batch-id-sized
    * result pinned; `false` returns the lazy plan over sig frames the
    * caller already caches and owns.
    */
  def novelAgainstSigs(batchIds: DataFrame, batchSigs: DataFrame,
                       corpusSigs: DataFrame, maxDist: Int = 3,
                       idCol: String = "doc_id",
                       materialize: Boolean = true): DataFrame = {
    require(maxDist >= 0 && maxDist <= 3,
      s"simhash: novelAgainstSigs is exact only for maxDist in [0, 3] " +
        s"(4-chunk pigeonhole), got $maxDist — a larger bound would " +
        "silently under-report near-duplicates as novel")
    // persist both sig frames across the chunk explode and the join — the
    // [[nearDuplicatesFromSigs]] lesson: without it the md5 twin's O(64·T)
    // sig lambda re-evaluates per consumer (measured 31.6 s warm at sf0.1
    // unpersisted vs sub-second persisted, identical bits)
    val bs = if (materialize) batchSigs.persist() else batchSigs
    val cs = if (materialize) corpusSigs.persist() else corpusSigs
    def chunked(sigs: DataFrame, as: String, sh: String) = sigs
      .select(col(idCol).as(as), col("simhash").as(sh),
        explode(expr("""transform(sequence(0, 3),
          c -> struct(c AS chunk_id, (shiftright(simhash, c * 16) & 65535) AS chunk_val))""")).as("ch"))
      .select(col(as), col(sh), col("ch.chunk_id"), col("ch.chunk_val"))
    val matched = chunked(bs, "batch_id", "sh_a")
      .join(chunked(cs, "corpus_id", "sh_b"), Seq("chunk_id", "chunk_val"))
      .filter(bit_count(col("sh_a").bitwiseXOR(col("sh_b"))) <= maxDist)
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

  /** md5-twin incremental fuzzy dedup by hamming — both sides sketched via
    * [[signaturesMd5]], novelty via [[novelAgainstSigs]]; exists so the
    * incremental flow gets a full DuckDB oracle (brute-force hamming over
    * batch × corpus), which also pins the maintained-ledger probe.
    */
  def newAgainstCorpusMd5(batch: DataFrame, corpus: DataFrame,
                          maxDist: Int = 3, idCol: String = "doc_id",
                          textCol: String = "text"): DataFrame =
    novelAgainstSigs(batch.select(col(idCol)),
      signaturesMd5(batch, idCol, textCol),
      signaturesMd5(corpus, idCol, textCol), maxDist, idCol)

  def nearDuplicatesFromSigs(sigs0: DataFrame, maxDist: Int = 3,
                             idCol: String = "doc_id"): DataFrame = {
    // the sig frame feeds both join sides — persist halves the signature
    // compute (16 B/row; lifetime-scoped, same reasoning as MinHashDedup).
    // Matters for the md5 twin whose per-doc sig is an O(64·T) lambda; the
    // native kernel is cheap either way. An ALREADY-CACHED input is left
    // alone (round-14 ADVICE): persisting it again would only warn, and
    // the caller owns that storage — this function must not be the one
    // that later evicts it.
    val sigs =
      if (sigs0.storageLevel == org.apache.spark.storage.StorageLevel.NONE) sigs0.persist()
      else sigs0
    val chunked = sigs.select(col(idCol), col("simhash"),
      explode(expr("""transform(sequence(0, 3),
        c -> struct(c AS chunk_id, (shiftright(simhash, c * 16) & 65535) AS chunk_val))""")).as("ch"))
      .select(col(idCol), col("simhash"), col("ch.chunk_id"), col("ch.chunk_val"))

    val left  = chunked.select(col("chunk_id"), col("chunk_val"),
      col(idCol).as("doc_a"), col("simhash").as("sh_a"))
    val right = chunked.select(col("chunk_id"), col("chunk_val"),
      col(idCol).as("doc_b"), col("simhash").as("sh_b"))

    left.join(right, Seq("chunk_id", "chunk_val"))
      .filter(col("doc_a") < col("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxDist)
      .select("doc_a", "doc_b", "hamming")
  }
}
