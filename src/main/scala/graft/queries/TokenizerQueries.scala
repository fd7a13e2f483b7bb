package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ext.{UnigramLm, WordPiece}

/** Unigram-LM (SentencePiece-style) tokenizer registry entries — the
  * tokenizer family's second member beside the BPE entries in
  * [[Extensions]] (Kudo 2018; see [[graft.ext.UnigramLm]] for the
  * algorithm and determinism contract).
  *
  * Oracle strategy (the trained-centroid pattern + the BPE unroll): piece
  * SCORES are frozen driver-side literals (the one transcendental — ln —
  * never crosses engines), and DuckDB re-runs every E-step as an unrolled
  * integer Viterbi DP over those literals: d_i = best (score, mask) over
  * the first i characters, maximized by score with the smaller boundary
  * mask breaking ties (prefix-monotone, so per-prefix maximization is
  * exact). Training counts, pruning, and tokenization are then fully
  * hash-matched cross-engine; the seed stage is pure counting and gets a
  * static oracle with no literals at all.
  */
object TokenizerQueries {

  type Q = (SparkSession, String) => DataFrame

  private val MaxPieceLen = 4
  private val SeedSize = 120
  private val EmRounds = 2
  // DP position unroll in the oracle SQL — and the MODEL's word-length
  // cap: passed to UnigramLm.train/tokenize as maxWordLen so the engine
  // and its oracle share ONE bound (round-11 ADVICE — previously a 17-63
  // code-point word trained fine in Spark but produced no DP row in the
  // oracle). An over-long word now fails loudly where the data enters
  // instead of hash-mismatching. Fixture max word length is 8.
  private val DpUnroll = 16

  /** Trained model per corpus — train-once state like the BPE merge list
    * (bounded: ≤ seedSize + alphabet pieces per round).
    */
  private val unigramFor = graft.Build[UnigramLm.UnigramModel]("unigram_train") { (s, dir) =>
    UnigramLm.train(Tables.documents(s, dir), "text",
      emRounds = EmRounds, maxPieceLen = MaxPieceLen, seedSize = SeedSize,
      maxWordLen = DpUnroll)
  }

  // WordPiece merge rounds — small like the BPE entries' 10 (the oracle
  // unrolls one CTE block per round); the tokenizer-family fourth member
  private val WpMerges = 10

  /** Trained WordPiece model per corpus: (merge rows, serving vocabulary)
    * — merges are numMerges driver rows, the vocab adds the corpus
    * alphabet (both bounded model state).
    */
  private val wpFor =
    graft.Build[(Seq[(String, String, Long, Long, Long)], Seq[String])]("wordpiece_train") { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val m = WordPiece.train(docs, "text", numMerges = WpMerges)
      (m, WordPiece.vocabulary(docs, "text", m))
    }

  val queries: Map[String, Q] = Map(

    // seed piece table: overlapping substring counts over the word vocab,
    // singles ∪ top-N selection — one vocab-sized aggregation + global
    // top-k, statically oracled (no trained literals)
    "x_unigram_seed" -> ((s: SparkSession, dir: String) => {
      UnigramLm.seedPieces(Tables.documents(s, dir), "text",
        MaxPieceLen, SeedSize)
    }),

    // the trained model itself, one row per (round, piece): counts are
    // re-derived by the oracle's unrolled Viterbi DP + recount + prune
    // over the PREVIOUS round's frozen scores, so every EM round's E and
    // M steps are hash-matched; scores ride as frozen literals
    "x_unigram_train" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val m = unigramFor(s, dir)
      (1 to EmRounds).flatMap { r =>
        m.rounds(r).map { case (p, c, sc) => (r, p, c, sc) }
      }.toDF("round", "piece", "cnt", "score")
    }),

    // corpus tokenization with the final model: per doc word count, piece
    // count, and the first word's segmentation (the Bpe.tokenize shape);
    // the oracle re-segments the distinct-word vocabulary in SQL and
    // joins it back through each document's word list
    "x_unigram_tokenize" -> ((s: SparkSession, dir: String) => {
      UnigramLm.tokenize(Tables.documents(s, dir), "doc_id", "text",
        unigramFor(s, dir).finalScores, MaxPieceLen, maxWordLen = DpUnroll)
    }),

    // WordPiece training — the likelihood-scored merge list, all-integer
    // rows (rank, pair, pair count, the two symbol counts). The oracle is
    // fully STATIC: DuckDB re-derives every round's pair counts, symbol
    // counts and score argmax from the corpus alone (no frozen literals —
    // the score's single IEEE divide is bit-identical cross-engine)
    "x_wordpiece_merges" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      wpFor(s, dir)._1.zipWithIndex.map { case ((a, b, c, ca, cb), i) =>
        (i + 1, a, b, c, ca, cb)
      }.toDF("rank", "sym_a", "sym_b", "cnt", "ca", "cb")
    }),

    // greedy longest-match-first tokenization against the trained vocab
    // (alphabet ∪ merged pieces): per doc the word / piece / [UNK]-word
    // counts and the first word's segmentation; the oracle re-runs the
    // max-munch loop as 16 unrolled match steps over the distinct-word
    // vocabulary — also static
    "x_wordpiece_tokenize" -> ((s: SparkSession, dir: String) => {
      WordPiece.tokenize(Tables.documents(s, dir), "doc_id", "text",
        wpFor(s, dir)._2, maxWordLen = WordPiece.MaxWordLen)
    }),

    // per-source FERTILITY + [UNK] drift under the frozen WordPiece vocab
    // — the tokenizer-staleness monitor beside x_bpe_oov_drift: tokens
    // per word (fertility) climbing for a source means its text is
    // drifting away from the vocab's training distribution; the UNK
    // column is the hard-failure tail (zero on the training corpus by
    // construction — alphabet coverage — and unit-pinned nonzero under a
    // foreign vocab). One tokenize pass + one keyed aggregation
    "x_wordpiece_drift" -> ((s: SparkSession, dir: String) => {
      val docs = Tables.documents(s, dir)
      WordPiece.tokenize(docs, "doc_id", "text",
          wpFor(s, dir)._2, maxWordLen = WordPiece.MaxWordLen)
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
        .groupBy(col("source"))
        .agg(sum(col("n_words")).cast("long").as("n_words"),
          sum(col("n_wp_tokens")).cast("long").as("n_tokens"),
          sum(col("n_unk_words")).cast("long").as("n_unk_words"))
    })
  )

  // ---- oracle SQL -------------------------------------------------------

  private def sqlStr(s: String): String = "'" + s.replace("'", "''") + "'"

  /** Word-frequency + singles CTEs shared by all three oracles (verbatim
    * Bpe.wordFreq / UnigramLm.seedPieces semantics).
    */
  private val wordCtes =
    s"""w AS (SELECT word, CAST(count(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
       |  WHERE length(word) > 0 GROUP BY word),
       |sub AS (SELECT substr(word, CAST(i AS INT), CAST(l AS INT)) AS piece, freq
       |  FROM w, generate_series(1, ${UnigramLm.MaxWordLen}) t(i),
       |       generate_series(1, $MaxPieceLen) u(l)
       |  WHERE i <= length(word) AND i + l - 1 <= length(word)),
       |scnt AS (SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt
       |         FROM sub GROUP BY piece),
       |sing AS (SELECT piece FROM scnt WHERE length(piece) = 1)""".stripMargin

  private val seedSelect =
    s"""SELECT piece, cnt FROM (
       |  SELECT piece, cnt, row_number() OVER (ORDER BY cnt DESC, piece) AS rk
       |  FROM scnt) WHERE rk <= $SeedSize
       |UNION
       |SELECT s.piece, c.cnt FROM sing s JOIN scnt c USING (piece)""".stripMargin

  /** VALUES literal of a round's frozen (piece, score) pairs. */
  private def piecesLiteral(name: String, ps: Seq[(String, Long, Long)]): String =
    s"""$name AS (SELECT * FROM (VALUES
       |      ${ps.sortBy(_._1).map { case (p, _, sc) =>
            s"(${sqlStr(p)}, CAST($sc AS BIGINT))" }.mkString(",\n      ")}
       |    ) t(p, s))""".stripMargin

  /** Unrolled Viterbi DP over a words CTE `uw(word)` against a pieces CTE
    * `(p, s)`: d_i holds the best (score, mask) covering the first i
    * characters — max by score, ties to the SMALLER mask (encoded as
    * max(struct(sc, -mask))). Emits `<tag>best(word, sc, msk)` plus
    * `<tag>ps(word, ps)` — the segmentation recovered from the mask.
    */
  private def dpCtes(tag: String, piecesCte: String): String = {
    val d0 = s"${tag}0 AS (SELECT word, CAST(0 AS BIGINT) AS sc, " +
      s"CAST(0 AS BIGINT) AS msk FROM uw)"
    val dis = (1 to DpUnroll).map { i =>
      val branches = (math.max(0, i - MaxPieceLen) until i).map { j =>
        s"""SELECT d.word, d.sc + p.s AS csc,
           |        d.msk + (CAST(1 AS BIGINT) << ${i - 1}) AS cmsk
           |      FROM ${tag}$j d JOIN $piecesCte p
           |        ON p.p = substr(d.word, ${j + 1}, ${i - j})
           |      WHERE length(d.word) >= $i""".stripMargin
      }.mkString("\n      UNION ALL ")
      s"""${tag}$i AS MATERIALIZED (
         |  SELECT word, struct_extract(b, 'sc') AS sc,
         |         -struct_extract(b, 'ngm') AS msk
         |  FROM (SELECT word, max(struct_pack(sc := csc, ngm := -cmsk)) AS b
         |        FROM ($branches) GROUP BY word))""".stripMargin
    }
    val best = s"""${tag}best AS (${(1 to DpUnroll)
      .map(i => s"SELECT word, sc, msk FROM ${tag}$i WHERE length(word) = $i")
      .mkString("\n  UNION ALL ")})"""
    val seg =
      s"""${tag}seg AS (SELECT word, msk,
         |    list_filter(generate_series(1, length(word)),
         |                e -> ((msk >> (e - 1)) & 1) = 1) AS ends
         |  FROM ${tag}best),
         |${tag}ps AS (SELECT word,
         |    list_transform(generate_series(1, len(ends)), k ->
         |      substr(word,
         |        CASE WHEN k = 1 THEN 1 ELSE CAST(ends[k - 1] + 1 AS INT) END,
         |        CAST(ends[k] - CASE WHEN k = 1 THEN 0 ELSE ends[k - 1] END AS INT))) AS ps
         |  FROM ${tag}seg)""".stripMargin
    (Seq(d0) ++ dis ++ Seq(best, seg)).mkString(",\n")
  }

  /** Per-round E+M mirror: DP with round r−1's literals, recount
    * (freq-weighted, per occurrence), prune to top-N ∪ singles.
    */
  private def roundCtes(r: Int, prev: Seq[(String, Long, Long)]): String = {
    val tag = s"r${r}d"
    s"""${piecesLiteral(s"pc$r", prev)},
       |${dpCtes(tag, s"pc$r")},
       |cnt$r AS (SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt
       |  FROM (SELECT w.freq, unnest(p.ps) AS piece
       |        FROM ${tag}ps p JOIN w USING (word))
       |  GROUP BY piece),
       |sel$r AS (
       |  SELECT piece, cnt FROM (
       |    SELECT piece, cnt, row_number() OVER (ORDER BY cnt DESC, piece) AS rk
       |    FROM cnt$r) WHERE rk <= $SeedSize
       |  UNION
       |  SELECT s.piece, coalesce(c.cnt, CAST(0 AS BIGINT)) AS cnt
       |  FROM sing s LEFT JOIN cnt$r c USING (piece))""".stripMargin
  }

  private def trainOracle(m: UnigramLm.UnigramModel): String = {
    val rounds = (1 to EmRounds).map { r =>
      roundCtes(r, m.rounds(r - 1)) + ",\n" +
        piecesLiteral(s"ps$r", m.rounds(r))
    }.mkString(",\n")
    val out = (1 to EmRounds).map { r =>
      s"""SELECT CAST($r AS INT) AS round, sel$r.piece, sel$r.cnt, ps$r.s AS score
         |FROM sel$r JOIN ps$r ON ps$r.p = sel$r.piece""".stripMargin
    }.mkString("\nUNION ALL ")
    s"""WITH $wordCtes,
       |uw AS (SELECT word FROM w),
       |$rounds
       |$out""".stripMargin
  }

  private def tokenizeOracle(m: UnigramLm.UnigramModel): String = {
    val tag = "td"
    s"""WITH dw AS (SELECT doc_id,
       |    list_filter(string_split(text, ' '), x -> len(x) > 0) AS ws
       |  FROM documents),
       |uw AS (SELECT DISTINCT unnest(ws) AS word FROM dw),
       |${piecesLiteral("pcf", m.finalPieces)},
       |${dpCtes(tag, "pcf")},
       |wp AS (SELECT word, ps, CAST(len(ps) AS INT) AS np FROM ${tag}ps),
       |occ AS (SELECT doc_id, unnest(ws) AS word FROM dw),
       |agg AS (SELECT o.doc_id, CAST(count(*) AS INT) AS n_words,
       |    CAST(sum(wp.np) AS INT) AS n_pieces
       |  FROM occ o JOIN wp USING (word) GROUP BY o.doc_id),
       |fw AS (SELECT f.doc_id, array_to_string(wp.ps, '|') AS first_word_pieces
       |  FROM (SELECT doc_id, ws[1] AS word FROM dw WHERE len(ws) >= 1) f
       |  JOIN wp USING (word))
       |SELECT d.doc_id,
       |  coalesce(agg.n_words, 0) AS n_words,
       |  coalesce(agg.n_pieces, 0) AS n_pieces,
       |  coalesce(fw.first_word_pieces, '') AS first_word_pieces
       |FROM documents d
       |LEFT JOIN agg USING (doc_id) LEFT JOIN fw USING (doc_id)""".stripMargin
  }

  // ---- WordPiece oracle SQL (fully static — no trained literals) -------
  //
  // The BPE delimited-string machinery (Extensions.bpeMergeCtes) with the
  // WordPiece differences: ##-marked continuation symbolization, a per-
  // round symbol-count CTE (the likelihood score's denominator), argmax
  // by `CAST(cnt AS DOUBLE) / CAST(ca*cb AS DOUBLE)` (one correctly-
  // rounded IEEE divide — bit-identical cross-engine on exact integer
  // inputs; see WordPiece's scaladoc), and merge application that strips
  // sym_b's ## marker. chr(31)/chr(30) never appear in text.

  private val wpO = "chr(31)" // symbol open mark
  private val wpC = "chr(30)" // symbol close mark

  /** Delimited WordPiece symbolization of a word expression: first
    * character plain, later characters ##-marked (WordPiece.toSymbols;
    * DuckDB substr/length count code points like the JVM walk).
    */
  private def wpSymbolize(wordExpr: String, lamVar: String = "i") =
    // the coalesce is load-bearing: array_to_string([], '') is NULL in
    // DuckDB, which would erase every ONE-character word from the vocab
    // (generate_series(2, 1) is empty)
    s"""$wpO || substr($wordExpr, 1, 1) || $wpC ||
       |  coalesce(array_to_string(list_transform(generate_series(2, length($wordExpr)),
       |    $lamVar -> $wpO || '##' || substr($wordExpr, $lamVar, 1) || $wpC), ''), '')""".stripMargin

  /** CTE chain w, v0, pc1, sc1, m1, v1, …, pc_R, sc_R, m_R (no leading
    * WITH). Every per-round CTE is MATERIALIZED (the bpeMergeCtes
    * inlining argument).
    */
  private def wpMergeCtes(rounds: Int): String = {
    val head = Seq(
      s"""w AS (SELECT word, CAST(count(*) AS BIGINT) AS freq
         |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
         |  WHERE length(word) > 0 GROUP BY word)""".stripMargin,
      s"""v0 AS MATERIALIZED (SELECT freq, ${wpSymbolize("word", "i")} AS s FROM w)""")
    val perRound = (1 to rounds).flatMap { r =>
      val apply = if (r == rounds) Seq.empty else Seq(
        s"""v$r AS MATERIALIZED (SELECT freq,
           |  replace(s,
           |    (SELECT $wpO || sym_a || $wpC || $wpO || sym_b || $wpC FROM m$r),
           |    (SELECT $wpO || sym_a || substr(sym_b, 3) || $wpC FROM m$r)) AS s
           |  FROM v${r - 1})""".stripMargin)
      Seq(
        s"""pc$r AS MATERIALIZED (
           |  SELECT pr[1] AS sym_a, pr[2] AS sym_b, CAST(sum(freq) AS BIGINT) AS cnt
           |  FROM (SELECT freq,
           |          unnest(list_transform(generate_series(1, len(ws) - 1),
           |                 i -> [ws[i], ws[i+1]])) AS pr
           |        FROM (SELECT freq,
           |                string_split(trim(s, $wpO || $wpC), $wpC || $wpO) AS ws
           |              FROM v${r - 1}) q)
           |  GROUP BY 1, 2)""".stripMargin,
        s"""sc$r AS MATERIALIZED (
           |  SELECT sym, CAST(sum(freq) AS BIGINT) AS c
           |  FROM (SELECT freq,
           |          unnest(string_split(trim(s, $wpO || $wpC), $wpC || $wpO)) AS sym
           |        FROM v${r - 1})
           |  GROUP BY 1)""".stripMargin,
        s"""m$r AS MATERIALIZED (
           |  SELECT p.sym_a, p.sym_b, p.cnt, a.c AS ca, b.c AS cb
           |  FROM pc$r p JOIN sc$r a ON a.sym = p.sym_a
           |              JOIN sc$r b ON b.sym = p.sym_b
           |  ORDER BY CAST(p.cnt AS DOUBLE) / CAST(a.c * b.c AS DOUBLE) DESC,
           |           p.sym_a, p.sym_b
           |  LIMIT 1)""".stripMargin) ++ apply
    }
    (head ++ perRound).mkString(",\n")
  }

  private def wpMergesOracle(rounds: Int): String = {
    val union = (1 to rounds)
      .map(r => s"SELECT CAST($r AS INT) AS rank, sym_a, sym_b, cnt, ca, cb FROM m$r")
      .mkString("\nUNION ALL ")
    s"WITH ${wpMergeCtes(rounds)}\n$union"
  }

  /** Greedy max-munch tokenization oracle: the serving vocabulary is
    * re-derived from v0's symbols ∪ each round's merged symbol, then
    * `WordPiece.MaxWordLen` unrolled match steps advance one token per
    * step over the distinct-word vocabulary — at step k a word either is
    * finished (pos past end), takes its LONGEST matching piece (max(l)
    * over the candidates present in the vocab), or collapses to [UNK]
    * (nt := 1, pos jumps past the end — the HF whole-word rule).
    */
  private def wpTokenizeOracle(rounds: Int): String =
    s"""WITH ${wpTokCtes(rounds)},
       |occ AS (SELECT doc_id, unnest(ws) AS word FROM dw),
       |agg AS (SELECT o.doc_id, CAST(count(*) AS INT) AS n_words,
       |    CAST(sum(wp.nt) AS INT) AS n_wp_tokens,
       |    CAST(sum(wp.unk) AS INT) AS n_unk_words
       |  FROM occ o JOIN wp USING (word) GROUP BY o.doc_id),
       |fw AS (SELECT f.doc_id, wp.toks AS first_word_tokens
       |  FROM (SELECT doc_id, ws[1] AS word FROM dw WHERE len(ws) >= 1) f
       |  JOIN wp USING (word))
       |SELECT d.doc_id,
       |  coalesce(agg.n_words, 0) AS n_words,
       |  coalesce(agg.n_wp_tokens, 0) AS n_wp_tokens,
       |  coalesce(agg.n_unk_words, 0) AS n_unk_words,
       |  coalesce(fw.first_word_tokens, '') AS first_word_tokens
       |FROM documents d
       |LEFT JOIN agg USING (doc_id) LEFT JOIN fw USING (doc_id)""".stripMargin

  /** Per-source [UNK] totals under the same re-derived vocab — the
    * bpeOovDriftOracle shape over the WordPiece machinery (zero-word
    * docs contribute zeros through the LEFT JOIN).
    */
  private def wpOovDriftOracle(rounds: Int): String =
    s"""WITH ${wpTokCtes(rounds)},
       |occ AS (SELECT doc_id, unnest(ws) AS word FROM dw),
       |per AS (SELECT o.doc_id, CAST(count(*) AS BIGINT) AS w,
       |    CAST(sum(wp.nt) AS BIGINT) AS t, CAST(sum(wp.unk) AS BIGINT) AS u
       |  FROM occ o JOIN wp USING (word) GROUP BY o.doc_id)
       |SELECT d.source,
       |  CAST(sum(coalesce(per.w, 0)) AS BIGINT) AS n_words,
       |  CAST(sum(coalesce(per.t, 0)) AS BIGINT) AS n_tokens,
       |  CAST(sum(coalesce(per.u, 0)) AS BIGINT) AS n_unk_words
       |FROM documents d LEFT JOIN per USING (doc_id)
       |GROUP BY 1""".stripMargin

  /** Everything both tokenize-family oracles share: the merge rounds, the
    * re-derived vocab, the document word lists, and the unrolled greedy
    * walk ending in `wp(word, nt, toks, unk)`.
    */
  private def wpTokCtes(rounds: Int): String = {
    val steps = WordPiece.MaxWordLen
    val vocabUnion = (1 to rounds)
      .map(r => s"UNION SELECT sym_a || substr(sym_b, 3) AS sym FROM m$r")
      .mkString("\n  ")
    val stepCtes = (1 to steps).map { k =>
      val piece = s"""(CASE WHEN g.pos = 1 THEN '' ELSE '##' END) ||
         |           substr(g.word, CAST(g.pos AS INT), CAST(m.bl AS INT))""".stripMargin
      s"""c$k AS (SELECT g.word, g.pos, l,
         |    (CASE WHEN g.pos = 1 THEN '' ELSE '##' END) ||
         |      substr(g.word, CAST(g.pos AS INT), CAST(l AS INT)) AS cand
         |  FROM g${k - 1} g, generate_series(1, $steps) t(l)
         |  WHERE g.pos <= length(g.word) AND g.pos + l - 1 <= length(g.word)),
         |b$k AS (SELECT c.word, CAST(max(c.l) AS BIGINT) AS bl
         |  FROM c$k c JOIN wpv v ON v.sym = c.cand GROUP BY c.word),
         |g$k AS MATERIALIZED (
         |  SELECT g.word,
         |    CASE WHEN g.pos > length(g.word) THEN g.pos
         |         WHEN m.bl IS NULL THEN CAST(length(g.word) + 1 AS BIGINT)
         |         ELSE g.pos + m.bl END AS pos,
         |    CASE WHEN g.pos > length(g.word) THEN g.nt
         |         WHEN m.bl IS NULL THEN 1 ELSE g.nt + 1 END AS nt,
         |    CASE WHEN g.pos > length(g.word) THEN g.toks
         |         WHEN m.bl IS NULL THEN '[UNK]'
         |         ELSE (CASE WHEN g.toks = '' THEN '' ELSE g.toks || '|' END) ||
         |              $piece END AS toks,
         |    CASE WHEN g.pos > length(g.word) THEN g.unk
         |         WHEN m.bl IS NULL THEN 1 ELSE g.unk END AS unk
         |  FROM g${k - 1} g LEFT JOIN b$k m USING (word))""".stripMargin
    }.mkString(",\n")
    s"""${wpMergeCtes(rounds)},
       |wpv AS MATERIALIZED (
       |  SELECT DISTINCT sym FROM (
       |    SELECT unnest(string_split(trim(s, $wpO || $wpC), $wpC || $wpO)) AS sym
       |    FROM v0
       |  $vocabUnion)),
       |dw AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS ws
       |       FROM documents),
       |uw AS (SELECT DISTINCT unnest(ws) AS word FROM dw),
       |g0 AS (SELECT word, CAST(1 AS BIGINT) AS pos, 0 AS nt,
       |         CAST('' AS VARCHAR) AS toks, 0 AS unk FROM uw),
       |$stepCtes,
       |wp AS (SELECT word, nt, toks, unk FROM g$steps)""".stripMargin
  }

  /** Seed oracle is static; train/tokenize need the frozen literals, so
    * they exist only after the matching queries trained the model (the
    * ivfOracles mechanics — Verify dumps oracle_sql.json after running).
    * The WordPiece pair is static end to end.
    */
  def oracleSql: Map[String, String] = {
    val base = Map("x_unigram_seed" -> s"WITH $wordCtes\n$seedSelect",
      "x_wordpiece_merges" -> wpMergesOracle(WpMerges),
      "x_wordpiece_tokenize" -> wpTokenizeOracle(WpMerges),
      "x_wordpiece_drift" -> wpOovDriftOracle(WpMerges))
    unigramFor.sole match {
      case Some(m) =>
        base + ("x_unigram_train" -> trainOracle(m),
          "x_unigram_tokenize" -> tokenizeOracle(m))
      case _ => base
    }
  }
}
