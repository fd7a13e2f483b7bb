package graft.ext

import graft.SparkSpec

class BpeSpec extends SparkSpec {
  import spark.implicits._

  // classic BPE corpus: 'low' ×5, 'lower' ×2, 'newest' ×6, 'widest' ×3
  private def corpus = Seq(
    (1L, Seq.fill(5)("low").mkString(" ")),
    (2L, Seq.fill(2)("lower").mkString(" ")),
    (3L, Seq.fill(6)("newest").mkString(" ")),
    (4L, Seq.fill(3)("widest").mkString(" "))).toDF("doc_id", "text")

  test("train reproduces the hand-computed merge sequence on the classic corpus") {
    val merges = Bpe.train(corpus, "text", numMerges = 4)
    // pair counts round 1: (e,s)=9, (s,t)=9, (t,</w>)=9, (l,o)=7, (o,w)=7 …
    // lexicographic tiebreak at 9: (e,s) < (s,t) < (t,</w>)
    assert(merges(0) === (("e", "s", 9L)))
    // round 2: (es,t)=9, (t,</w>)=9 → (es,t) first lexicographically
    assert(merges(1) === (("es", "t", 9L)))
    // round 3: (est,</w>)=9 alone at the top
    assert(merges(2) === (("est", Bpe.Eow, 9L)))
    // round 4: (l,o)=7, (o,w)=7 → (l,o) first
    assert(merges(3) === (("l", "o", 7L)))
  }

  test("mergeWord merges left-to-right without overlap; encodeWord applies ranks greedily") {
    assert(Bpe.mergeWord(Seq("a", "a", "a"), "a", "a") === Seq("aa", "a"))
    assert(Bpe.mergeWord(Seq("x", "y", "x", "y"), "x", "y") === Seq("xy", "xy"))
    val merges = Bpe.train(corpus, "text", numMerges = 4)
    val ranks = merges.zipWithIndex.map { case ((a, b, _), i) => (a, b) -> i }.toMap
    // 'newest' under [es, est, est</w>, lo]: n e w est</w>
    assert(Bpe.encodeWord("newest", ranks) === Seq("n", "e", "w", "est" + Bpe.Eow))
    // unseen word degrades to characters + marker, never fails
    assert(Bpe.encodeWord("zq", ranks) === Seq("z", "q", Bpe.Eow))
  }

  test("astral-plane text: one code point = one symbol, never a split surrogate pair") {
    // 𝕏 (U+1D54F) and 😀 (U+1F600) are TWO UTF-16 code units each; a
    // code-unit splitter would emit lone surrogates and diverge from the
    // character-counting oracle. '𝕏😀' ×3 makes (𝕏,😀) the top pair.
    val astral = "𝕏😀" // 𝕏😀
    val docs = Seq((1L, Seq.fill(3)(astral).mkString(" "))).toDF("doc_id", "text")
    val merges = Bpe.train(docs, "text", numMerges = 1)
    assert(merges(0) === (("𝕏", "😀", 3L)),
      "symbols must be whole code points")
    val ranks = merges.zipWithIndex.map { case ((a, b, _), i) => (a, b) -> i }.toMap
    assert(Bpe.encodeWord(astral, ranks) === Seq(astral, Bpe.Eow))
  }

  test("tokenize: concatenating a word's tokens reconstructs the word (round trip)") {
    val merges = Bpe.train(corpus, "text", numMerges = 4)
    val got = Bpe.tokenize(corpus, "doc_id", "text", merges)
      .as[(Long, Int, Int, String)].collect().sortBy(_._1).toSeq
    got.foreach { case (_, nw, nt, _) => assert(nt < nw * 7 && nt >= nw) }
    // doc 3 = 'newest' ×6: first word tokens n|e|w|est</w>
    assert(got(2)._4 === s"n|e|w|est${Bpe.Eow}")
    // round trip: tokens of 'lower' spell the word + marker
    val ranks = merges.zipWithIndex.map { case ((a, b, _), i) => (a, b) -> i }.toMap
    assert(Bpe.encodeWord("lower", ranks).mkString.stripSuffix(Bpe.Eow) === "lower")
  }

  test("train batch=1 reproduces the one-merge-per-round merge list") {
    // one merge per round: every rank sees the previous merge's counts
    assert(Bpe.train(corpus, "text", numMerges = 4, batch = 1) === Seq(
      ("e", "s", 9L), ("es", "t", 9L), ("est", Bpe.Eow, 9L), ("l", "o", 7L)))
  }

  test("trainBatched: one round picks top non-conflicting pairs, symbol-disjoint") {
    // round-1 candidates by (cnt desc, a, b): (e,s)=9, (s,t)=9,
    // (t,</w>)=9, (w,e)=8, (l,o)=7, (o,w)=7, (n,e)=6, (e,w)=6,
    // (w,</w>)=5, …, (d,e)=3, (i,d)=3 — greedy skips every pair sharing a
    // symbol with an earlier pick: (s,t)/(w,e)/(o,w)/(n,e)/(e,w)/(w,</w>)
    // and (d,e) all conflict, so one batch-4 round picks
    val b4 = Bpe.train(corpus, "text", numMerges = 4, batch = 4)
    assert(b4 === Seq(("e", "s", 9L), ("t", Bpe.Eow, 9L),
      ("l", "o", 7L), ("i", "d", 3L)))
    // the round's picks are symbol-disjoint by construction
    val syms = b4.flatMap(p => Seq(p._1, p._2))
    assert(syms.distinct.size === syms.size)
    // and the batched model still round-trips words
    val ranks = b4.zipWithIndex.map { case ((a, b, _), i) => (a, b) -> i }.toMap
    assert(Bpe.encodeWord("newest", ranks).mkString.stripSuffix(Bpe.Eow) === "newest")
  }

  test("train stops early when no pair reaches minCount") {
    val tiny = Seq((1L, "ab")).toDF("doc_id", "text")
    assert(Bpe.train(tiny, "text", numMerges = 10, minCount = 2L) === Seq.empty)
    val merges = Bpe.train(tiny, "text", numMerges = 10, minCount = 1L)
    // 'ab' fully merges into one symbol: (a,b) then (ab,</w>)
    assert(merges.map(m => (m._1, m._2)) === Seq(("a", "b"), ("ab", Bpe.Eow)))
  }
}
