package graft.ext

import graft.SparkSpec

class WordPieceSpec extends SparkSpec {
  import spark.implicits._

  // 'ab' ×8, 'abc' ×2, 'xy' ×1: symbol counts a=10 b=10(##b) c=2(##c)
  // x=1 y=1(##y); pair counts (a,##b)=10, (##b,##c)=2, (x,##y)=1; scores
  // 10/(10·10)=0.1, 2/(10·2)=0.1, 1/(1·1)=1.0 → (x,##y) wins round 1
  // DESPITE the lowest count — the likelihood-vs-frequency distinction
  // that separates WordPiece from BPE.
  private def corpus = Seq(
    (1L, Seq.fill(8)("ab").mkString(" ")),
    (2L, Seq.fill(2)("abc").mkString(" ")),
    (3L, "xy")).toDF("doc_id", "text")

  test("toSymbols marks continuations; one code point = one symbol") {
    assert(WordPiece.toSymbols("abc") === Seq("a", "##b", "##c"))
    assert(WordPiece.toSymbols("a") === Seq("a"))
    // astral-plane: 𝕏 and 😀 are two UTF-16 units each but one symbol
    assert(WordPiece.toSymbols("𝕏😀") === Seq("𝕏", "##😀"))
  }

  test("train maximizes likelihood, not raw count, and strips ## on merge") {
    val m = WordPiece.train(corpus, "text", numMerges = 2)
    // round 1: (x,##y) score 1.0 beats (a,##b) score 0.1
    assert(m(0) === (("x", "##y", 1L, 1L, 1L)))
    // round 2: xy is gone from pair space; (a,##b)=10/(10·10)=0.1 vs
    // (##b,##c)=2/(10·2)=0.1 tie → lexicographic: '##b' < 'a'
    assert(m(1) === (("##b", "##c", 2L, 10L, 2L)))
    // merged symbols carry the left element's marker state
    assert(WordPiece.mergeWord(Seq("a", "##b", "##c"), "##b", "##c")
      === Seq("a", "##bc"))
    assert(WordPiece.mergeWord(Seq("x", "##y"), "x", "##y") === Seq("xy"))
  }

  test("train batch=1 reproduces the one-merge-per-round merge list") {
    // one merge per round: every rank sees the previous merge's counts
    assert(WordPiece.train(corpus, "text", numMerges = 3, batch = 1) === Seq(
      ("x", "##y", 1L, 1L, 1L), ("##b", "##c", 2L, 10L, 2L), ("a", "##b", 8L, 10L, 8L)))
  }

  test("trainBatched: one round picks top non-conflicting pairs by SCORE") {
    // round-1 candidates by (score desc, a, b): (x,##y)=1.0,
    // (##b,##c)=0.1, (a,##b)=0.1 — (##b,##c) sorts before (a,##b) on the
    // tie and then BLOCKS it (shared ##b), so round 1 picks only the two
    // symbol-disjoint pairs; note the count-order would have put
    // (a,##b)=10 first — the likelihood ranking is what's batched.
    // Round 2 then merges the unblocked remainder: (a,##b) now cnt=8
    // ('abc' holds [a,##bc]), score 8/(10·8) beating (a,##bc)=2/(10·2)
    // on the sym_b tie-break
    val b = WordPiece.train(corpus, "text", numMerges = 3, batch = 3)
    assert(b === Seq(("x", "##y", 1L, 1L, 1L), ("##b", "##c", 2L, 10L, 2L),
      ("a", "##b", 8L, 10L, 8L)))
    val round1 = b.take(2).flatMap(p => Seq(p._1, p._2))
    assert(round1.distinct.size === round1.size, "a round's picks are symbol-disjoint")
    // the batched model still tokenizes: greedy max-munch takes the
    // round-2 'ab' piece over 'a', then the alphabet's '##c'
    val v = WordPiece.vocabulary(corpus, "text", b)
    assert(WordPiece.encodeWord("abc", v.toSet) === Seq("ab", "##c"))
  }

  test("vocabulary is alphabet plus merged pieces") {
    val m = WordPiece.train(corpus, "text", numMerges = 2)
    val v = WordPiece.vocabulary(corpus, "text", m).toSet
    assert(v === Set("a", "##b", "##c", "x", "##y", "xy", "##bc"))
  }

  test("encodeWord is greedy longest-match-first with whole-word [UNK]") {
    val vocab = Set("a", "##b", "##c", "xy", "##bc", "ab")
    // longest match at pos 1: 'ab' beats 'a'
    assert(WordPiece.encodeWord("abc", vocab) === Seq("ab", "##c"))
    // continuation matching: a + ##bc (greedy takes the 2-char piece)
    assert(WordPiece.encodeWord("abcbc", vocab)
      === Seq("ab", "##c", "##bc"))
    // unmatchable position (no '##y' after 'x…' — 'xy' only matches
    // word-initially as a whole) collapses the WHOLE word
    assert(WordPiece.encodeWord("axy", vocab) === Seq(WordPiece.Unk))
    // fully unknown first char
    assert(WordPiece.encodeWord("q", vocab) === Seq(WordPiece.Unk))
  }

  test("encodeWord fails loudly past the shared word-length cap") {
    val e = intercept[IllegalArgumentException] {
      WordPiece.encodeWord("a" * (WordPiece.MaxWordLen + 1), Set("a", "##a"))
    }
    assert(e.getMessage.contains("exceeds the tokenizer cap"))
    // the cap itself is accepted (positive side, the UnigramLm lesson)
    assert(WordPiece.encodeWord("a" * WordPiece.MaxWordLen, Set("a", "##a"))
      .length === WordPiece.MaxWordLen)
  }

  test("tokenize counts words, pieces and [UNK] words per document") {
    val m = WordPiece.train(corpus, "text", numMerges = 2)
    val v = WordPiece.vocabulary(corpus, "text", m)
    val got = WordPiece.tokenize(corpus, "doc_id", "text", v)
      .as[(Long, Int, Int, Int, String)].collect().sortBy(_._1).toSeq
    // doc 1: 'ab' ×8 → a|##b (no 'ab' merge trained), 16 pieces, 0 unk
    assert(got(0) === ((1L, 8, 16, 0, "a|##b")))
    // doc 2: 'abc' ×2 → a|##bc
    assert(got(1) === ((2L, 2, 4, 0, "a|##bc")))
    // doc 3: 'xy' → the merged whole-word piece
    assert(got(2) === ((3L, 1, 1, 0, "xy")))
    // a vocab missing '##c' turns 'abc' into [UNK] but leaves 'ab' intact
    val got2 = WordPiece.tokenize(corpus, "doc_id", "text",
        Seq("a", "##b", "x", "##y"))
      .as[(Long, Int, Int, Int, String)].collect().sortBy(_._1).toSeq
    assert(got2(1) === ((2L, 2, 2, 2, WordPiece.Unk)))
  }
}
