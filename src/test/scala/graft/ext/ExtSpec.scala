package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MinHashDedupSpec extends SparkSpec {
  import spark.implicits._

  private val base = (1 to 60).map(i => s"w$i").mkString(" ")
  private val nearDup = ((1 to 58).map(i => s"w$i") ++ Seq("zz1", "zz2")).mkString(" ")
  private val other = (100 to 160).map(i => s"v$i").mkString(" ")

  test("LSH finds planted near-duplicates, skips unrelated docs") {
    val docs = Seq((0L, base), (1L, nearDup), (2L, other)).toDF("doc_id", "text")
    val pairs = MinHashDedup.nearDuplicates(docs, minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq === Seq((0L, 1L)))
  }

  test("identical docs have jaccard 1.0") {
    val docs = Seq((0L, base), (1L, base)).toDF("doc_id", "text")
    val r = MinHashDedup.nearDuplicates(docs, minJaccard = 0.99).head()
    assert(r.getDouble(2) === 1.0)
  }

  test("md5 twin: LSH banding == brute-force any-band-equal + jaccard verify") {
    val rnd = new scala.util.Random(11)
    val vocab = (0 until 30).map(i => s"w$i")
    val texts = (0L until 25L).map { id =>
      (id, Seq.fill(15 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val docs = (texts ++ Seq((100L, texts(0)._2), (101L, texts(1)._2 + " tail")))
      .toDF("doc_id", "text")
    val sigs = MinHashDedup.signaturesMd5(docs)
    val a = sigs.select($"doc_id".as("doc_a"), $"sigs".as("ga"), $"shingles".as("sh_a"))
    val b = sigs.select($"doc_id".as("doc_b"), $"sigs".as("gb"), $"shingles".as("sh_b"))
    val anyBand = (0 until 4).map(i =>
      expr(s"slice(ga, ${i * 4 + 1}, 4)") === expr(s"slice(gb, ${i * 4 + 1}, 4)"))
      .reduce(_ || _)
    val direct = a.crossJoin(b).filter($"doc_a" < $"doc_b").filter(anyBand)
      .withColumn("jaccard",
        size(array_intersect($"sh_a", $"sh_b")).cast("double") /
          size(array_union($"sh_a", $"sh_b")))
      .filter($"jaccard" >= 0.5)
      .select("doc_a", "doc_b", "jaccard")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    val banded = MinHashDedup.nearDuplicatesMd5(docs, minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    assert(direct.nonEmpty) // planted copy must collide
    assert(banded.toSeq === direct.toSeq)
    // planted exact copy surfaces at jaccard 1.0
    assert(banded.exists(p => p._1 == 0L && p._2 == 100L && p._3 == 1.0))
  }

  test("newAgainstCorpus: batch near-dups of corpus dropped; novel, short, and batch-internal dups kept") {
    val corpus = Seq((100L, base), (101L, other)).toDF("doc_id", "text")
    val batch = Seq(
      (1L, nearDup),          // near-dup of corpus 100 → dropped
      (2L, base),             // exact dup of corpus 100 → dropped
      (3L, (200 to 260).map(i => s"u$i").mkString(" ")), // novel → kept
      (4L, (200 to 260).map(i => s"u$i").mkString(" ")), // batch-internal dup of 3 → kept
      (5L, "too short")       // < k words, no shingles → kept as novel
    ).toDF("doc_id", "text")
    val kept = MinHashDedup.newAgainstCorpus(batch, corpus, minJaccard = 0.5)
      .as[Long].collect().sorted.toSeq
    assert(kept === Seq(3L, 4L, 5L))
  }

  test("novelAgainstSigsMd5: ragged banding refused; materialize contract releases sig storage") {
    val none = org.apache.spark.storage.StorageLevel.NONE
    val text = (1 to 30).map(i => s"t$i").mkString(" ")
    val batch = Seq((0L, text), (9L, (50 to 80).map(i => s"z$i").mkString(" ")))
      .toDF("doc_id", "text")
    val corpus = Seq((1L, text)).toDF("doc_id", "text")
    val bs = MinHashDedup.signaturesMd5(batch)
    val cs = MinHashDedup.signaturesMd5(corpus)
    val e = intercept[IllegalArgumentException] {
      MinHashDedup.novelAgainstSigsMd5(batch.select($"doc_id"), bs, cs,
        h = 16, bands = 5)
    }
    assert(e.getMessage.contains("divisible"))
    val novel = MinHashDedup.novelAgainstSigsMd5(batch.select($"doc_id"), bs, cs)
    assert(novel.storageLevel !== none)  // persisted + counted, caller-owned
    assert(bs.storageLevel === none && cs.storageLevel === none)
    assert(novel.as[Long].collect().toSet === Set(9L))
    novel.unpersist(blocking = true)
    val lzy = MinHashDedup.novelAgainstSigsMd5(batch.select($"doc_id"), bs, cs,
      materialize = false)
    assert(lzy.as[Long].collect().toSet === Set(9L))
    assert(lzy.storageLevel === none && bs.storageLevel === none)
  }

  test("pair search and novelty agree: one banding, one verify, both flavours") {
    // 30 corpus docs of 30 words over a 200-word vocabulary; the batch
    // holds novel docs and copies of corpus docs with 0–9 words replaced,
    // so the planted pairs span Jaccard ~0.3–1.0 around the threshold
    val rnd = new scala.util.Random(5)
    def words(n: Int) = Seq.fill(n)(s"w${rnd.nextInt(200)}")
    val corpusWords = (0 until 30).map(_ => words(30))
    val corpus = corpusWords.zipWithIndex.map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
    val batch = (0 until 30).map { j =>
      val ws = if (j % 3 == 0) words(30)
        else corpusWords(j).zipWithIndex.map { case (w, i) => if (i % 3 == 0 && i / 3 < j % 10) s"x$j$i" else w }
      (100L + j, ws.mkString(" "))
    } :+ ((200L, "too short"))
    val (b, c) = (batch.toDF("doc_id", "text"), corpus.toDF("doc_id", "text"))
    val batchIds = batch.map(_._1).toSet
    def pairedWithCorpus(pairs: org.apache.spark.sql.DataFrame): Set[Long] =
      pairs.select("doc_a", "doc_b").as[(Long, Long)].collect().toSeq
        .flatMap { case (x, y) => Seq(x -> y, y -> x) }
        .collect { case (x, y) if batchIds(x) && !batchIds(y) => x }.toSet
    def nonNovel(novel: org.apache.spark.sql.DataFrame): Set[Long] =
      batchIds -- novel.as[Long].collect()
    val native = pairedWithCorpus(MinHashDedup.nearDuplicates(b.union(c), minJaccard = 0.5))
    assert(native.nonEmpty && native.size < batchIds.size)
    assert(nonNovel(MinHashDedup.newAgainstCorpus(b, c, minJaccard = 0.5)) === native)
    val md5 = pairedWithCorpus(MinHashDedup.nearDuplicatesMd5(b.union(c), minJaccard = 0.5))
    assert(md5.nonEmpty && md5.size < batchIds.size)
    assert(nonNovel(MinHashDedup.newAgainstCorpusMd5(b, c, minJaccard = 0.5)) === md5)
  }
}

class SimHashSpec extends SparkSpec {
  import spark.implicits._

  private val base = (1 to 80).map(i => s"w$i").mkString(" ")

  test("identical texts collide at hamming 0; signature is deterministic") {
    val docs = Seq((0L, base), (1L, base), (2L, "totally different words here"))
      .toDF("doc_id", "text")
    val pairs = SimHash.nearDuplicates(docs, maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Number](2).longValue))
    assert(pairs.toSeq === Seq((0L, 1L, 0L)))
    val sigs = SimHash.signatures(docs).orderBy("doc_id").as[(Long, Long)].collect()
    assert(sigs(0)._2 === sigs(1)._2)
    assert(SimHash.signatures(docs).orderBy("doc_id").as[(Long, Long)].collect()
      .toSeq === sigs.toSeq) // rerun -> same hashes (no RNG anywhere)
  }

  test("banding pair search == direct all-pairs hamming (pigeonhole exact at ≤3)") {
    val rnd = new scala.util.Random(7)
    val vocab = (0 until 40).map(i => s"w$i")
    val texts = (0L until 30L).map { id =>
      val words = Seq.fill(20 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size)))
      (id, words.mkString(" "))
    }
    // plant near-dups: copies and one-word edits of doc 0
    val docs = (texts ++ Seq((100L, texts(0)._2), (101L, texts(0)._2 + " extra")))
      .toDF("doc_id", "text")
    val sigs = SimHash.signatures(docs)
    val a = sigs.select($"doc_id".as("doc_a"), $"simhash".as("sa"))
    val b = sigs.select($"doc_id".as("doc_b"), $"simhash".as("sb"))
    val direct = a.crossJoin(b).filter($"doc_a" < $"doc_b")
      .withColumn("hamming", bit_count($"sa".bitwiseXOR($"sb")))
      .filter($"hamming" <= 3)
      .select("doc_a", "doc_b", "hamming")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Number](2).longValue)).sorted
    val banded = SimHash.nearDuplicates(docs, maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Number](2).longValue)).sorted
    assert(direct.nonEmpty) // the planted copies must collide
    assert(banded.toSeq === direct.toSeq)
  }

  test("md5 twin: identical texts collide at hamming 0; signature deterministic; 60-bit") {
    val docs = Seq((0L, base), (1L, base), (2L, "totally different words here"))
      .toDF("doc_id", "text")
    val pairs = SimHash.nearDuplicatesFromSigs(SimHash.signaturesMd5(docs), maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Number](2).longValue))
    assert(pairs.toSeq === Seq((0L, 1L, 0L)))
    val sigs = SimHash.signaturesMd5(docs).orderBy("doc_id").as[(Long, Long)].collect()
    assert(sigs(0)._2 === sigs(1)._2)
    assert(sigs.forall(s => s._2 >= 0L && s._2 < (1L << 60))) // bits 0-59 only
    assert(SimHash.signaturesMd5(docs).orderBy("doc_id").as[(Long, Long)].collect()
      .toSeq === sigs.toSeq)
  }

  test("one changed word flips few bits") {
    val changed = base.replace("w40", "qqq")
    val docs = Seq((0L, base), (1L, changed)).toDF("doc_id", "text")
    val Array(a, b) = SimHash.signatures(docs).orderBy("doc_id")
      .select("simhash").as[Long].collect()
    assert(java.lang.Long.bitCount(a ^ b) <= 16) // small perturbation
  }

  test("novelAgainstSigs refuses maxDist > 3 (pigeonhole exactness bound)") {
    val docs = Seq((0L, base)).toDF("doc_id", "text")
    val sigs = SimHash.signaturesMd5(docs)
    val e = intercept[IllegalArgumentException] {
      SimHash.novelAgainstSigs(docs.select($"doc_id"), sigs, sigs, maxDist = 4)
    }
    assert(e.getMessage.contains("exact only for maxDist"))
  }

  test("novelAgainstSigs materialize contract: caller owns the counted result, sig storage released") {
    val none = org.apache.spark.storage.StorageLevel.NONE
    val batch = Seq((0L, base), (9L, "other words entirely unrelated text"))
      .toDF("doc_id", "text")
    val corpus = Seq((1L, base)).toDF("doc_id", "text")
    val bs = SimHash.signaturesMd5(batch)
    val cs = SimHash.signaturesMd5(corpus)
    val novel = SimHash.novelAgainstSigs(batch.select($"doc_id"), bs, cs)
    assert(novel.storageLevel !== none)  // persisted + counted, caller-owned
    assert(bs.storageLevel === none)     // corpus-sized storage already gone
    assert(cs.storageLevel === none)
    assert(novel.as[Long].collect().toSet === Set(9L))
    novel.unpersist(blocking = true)
    // lazy form: zero storage side effects, same bits
    val lzy = SimHash.novelAgainstSigs(batch.select($"doc_id"), bs, cs,
      materialize = false)
    assert(lzy.as[Long].collect().toSet === Set(9L))
    assert(lzy.storageLevel === none && bs.storageLevel === none)
  }
}

class ExactDedupSpec extends SparkSpec {
  import spark.implicits._

  test("hash-first dedup == naive groupBy(text), incl. null and empty text") {
    val docs = Seq(
      (0L, "same text"), (1L, "same text"), (2L, "same text"),
      (3L, "unique one"), (4L, ""), (5L, ""), (6L, null), (7L, "unique two"))
      .toDF("doc_id", "text")
    val naive = docs.groupBy($"text")
      .agg(min($"doc_id").as("canonical_id"), count(lit(1)).as("n_copies"))
      .select("canonical_id", "n_copies")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val got = ExactDedup.byContent(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(got.toSeq === naive.toSeq)
  }
}

class IncrementalDedupSpec extends SparkSpec {
  import spark.implicits._

  test("new-vs-corpus dedup == NOT EXISTS by text; batch-internal dups retained") {
    val corpus = Seq((1L, "seen before"), (2L, "also known"), (3L, "old news"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "seen before"),  // dup of corpus -> dropped
      (11L, "brand new"),    // novel -> kept
      (12L, "brand new"),    // batch-internal dup -> BOTH kept (by contract)
      (13L, "old news"))     // dup of corpus -> dropped
      .toDF("doc_id", "text")
    val got = graft.ext.ExactDedup.newAgainstCorpus(batch, corpus)
      .as[Long].collect().sorted
    assert(got.toSeq === Seq(11L, 12L))
    // equivalence with the naive text anti join
    val naive = batch.join(corpus.select($"text"), Seq("text"), "left_anti")
      .select("doc_id").as[Long].collect().sorted
    assert(got.toSeq === naive.toSeq)
  }
}

class JaccardDedupSpec extends SparkSpec {
  import spark.implicits._

  /** The round-1 naive all-pairs form, kept here as the test reference. */
  private def naivePairs(docs: org.apache.spark.sql.DataFrame, t: Double) = {
    val d = docs.select($"doc_id", $"source", $"n_chars",
      array_distinct(split($"text", " ")).as("ws"))
    val a = d.select($"doc_id".as("doc_a"), $"source", $"n_chars".as("ca"), $"ws".as("wa"))
    val b = d.select($"doc_id".as("doc_b"), $"source", $"n_chars".as("cb"), $"ws".as("wb"))
    a.join(b, Seq("source"))
      .filter($"doc_a" < $"doc_b" && abs($"ca" - $"cb") * 5 <= $"ca" + $"cb")
      .select($"doc_a", $"doc_b",
        (size(array_intersect($"wa", $"wb")).cast("double") /
          size(array_union($"wa", $"wb"))).as("jaccard"))
      .filter($"jaccard" >= t)
  }

  private def asTriples(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq

  test("prefix-filter join output == naive all-pairs (planted fixture)") {
    val raw = Seq(
      (0L, "s1", "a b c d e f g h"),
      (1L, "s1", "a b c d e f g x"), // near-dup of 0
      (2L, "s1", "p q r s t u v w"), // unrelated
      (3L, "s2", "a b c d e f g h"), // same text, other source -> excluded
      (4L, "s2", "a b c d e f h g"), // dup of 3 within s2
      (5L, "s1", "a b"),             // tiny; ratio-excluded vs the rest
      (6L, "s1", "a b c"))
    val docs = raw.map { case (id, src, t) => (id, src, t.length, t) }
      .toDF("doc_id", "source", "n_chars", "text")
    assert(asTriples(JaccardDedup.similarPairs(docs, 0.5)) ===
      asTriples(naivePairs(docs, 0.5)))
  }

  test("prefix-filter join output == naive all-pairs (seeded random corpus, several thresholds)") {
    val rnd = new scala.util.Random(42)
    val vocab = (0 until 50).map(i => s"t$i")
    val docs = (0L until 60L).map { id =>
      val n = 4 + rnd.nextInt(12)
      val words = Seq.fill(n)(vocab(rnd.nextInt(vocab.size)))
      val text = words.mkString(" ")
      (id, s"s${rnd.nextInt(2)}", text.length, text)
    }.toDF("doc_id", "source", "n_chars", "text")
    docs.cache().count()
    // 0.5 is FP-exact; 0.9/0.7/0.3 exercise the inexact-binary thresholds
    // where a double prefix length undercounts and drops true pairs
    for (t <- Seq(0.5, 0.9, 0.7, 0.3))
      assert(asTriples(JaccardDedup.similarPairs(docs, t)) ===
        asTriples(naivePairs(docs, t)), s"threshold $t")
    docs.unpersist()
  }

  test("n-gram mode: prefix-filter output == naive bigram all-pairs; planted trigram dup") {
    // bigram equivalence on the seeded corpus shape
    val rnd = new scala.util.Random(5)
    val vocab = (0 until 30).map(i => s"t$i")
    val docs = (0L until 40L).map { id =>
      val words = Seq.fill(6 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size)))
      val text = words.mkString(" ")
      (id, "s1", text.length, text)
    }.toDF("doc_id", "source", "n_chars", "text")
    val naive = {
      val d = docs.select($"doc_id", $"source", $"n_chars",
        JaccardDedup.ngramSet("text", 2).as("ws"))
      val a = d.select($"doc_id".as("doc_a"), $"source", $"n_chars".as("ca"), $"ws".as("wa"))
      val b = d.select($"doc_id".as("doc_b"), $"source", $"n_chars".as("cb"), $"ws".as("wb"))
      a.join(b, Seq("source"))
        .filter($"doc_a" < $"doc_b" && abs($"ca" - $"cb") * 5 <= $"ca" + $"cb")
        .select($"doc_a", $"doc_b",
          (size(array_intersect($"wa", $"wb")).cast("double") /
            size(array_union($"wa", $"wb"))).as("jaccard"))
        .filter($"jaccard" >= 0.3)
    }
    assert(asTriples(JaccardDedup.similarPairs(docs, 0.3, ngram = 2)) === asTriples(naive))

    // a phrase-level near-dup shares trigrams; a reshuffled doc does not
    val phrase = "alpha beta gamma delta epsilon zeta"
    val planted = Seq(
      (100L, "s1", phrase.length, phrase),
      (101L, "s1", phrase.length, "alpha beta gamma delta epsilon eta"),
      (102L, "s1", phrase.length, "zeta epsilon delta gamma beta alpha")) // same words, no shared trigram
      .toDF("doc_id", "source", "n_chars", "text")
    val tri = JaccardDedup.similarPairs(planted, 0.2, ngram = 3)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(tri === Set((100L, 101L)))
  }

  test("containment: verbatim quote found at 1.0 where Jaccard misses; output == naive all-pairs") {
    // doc 10 is six words quoted verbatim inside the 30-word doc 11:
    // containment(10→11) = 1.0, but J ≈ 6/30 — below any 0.5 threshold
    val quote = "alpha beta gamma delta epsilon zeta"
    val host = quote + " " + (1 to 24).map(i => s"w$i").mkString(" ")
    val other = (30 to 60).map(i => s"v$i").mkString(" ")
    val docs = Seq((10L, quote), (11L, host), (12L, other))
      .toDF("doc_id", "text")
    val got = JaccardDedup.containmentPairs(docs, threshold = 0.9, ngram = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got === Seq((10L, 11L, 1.0)))
    // Jaccard at the same threshold finds nothing for this pair
    val j = JaccardDedup.similarPairs(
      docs.withColumn("source", lit("s1")).withColumn("n_chars", length($"text")),
      threshold = 0.9, ngram = 3).count()
    assert(j === 0L)
  }

  test("containment prefix-filter == naive all-pairs (seeded corpus, several thresholds)") {
    val rnd = new scala.util.Random(13)
    val vocab = (0 until 40).map(i => s"t$i")
    val docs = (0L until 50L).map { id =>
      val words = Seq.fill(5 + rnd.nextInt(15))(vocab(rnd.nextInt(vocab.size)))
      (id, words.mkString(" "))
    }.toDF("doc_id", "text")
    docs.cache().count()
    def naive(t: Double, n: Int) = {
      val d = docs.select($"doc_id", JaccardDedup.ngramSet("text", n).as("ws"))
        .filter(size($"ws") >= 1)
      val a = d.select($"doc_id".as("doc_a"), $"ws".as("wa"))
      val b = d.select($"doc_id".as("doc_b"), $"ws".as("wb"))
      a.crossJoin(b)
        .filter(size($"wa") < size($"wb") ||
          (size($"wa") === size($"wb") && $"doc_a" < $"doc_b"))
        .select($"doc_a", $"doc_b",
          (size(array_intersect($"wa", $"wb")).cast("double") / size($"wa"))
            .as("containment"))
        .filter($"containment" >= t)
    }
    for ((t, n) <- Seq((0.5, 2), (0.7, 2), (0.9, 1), (0.4, 3)))
      assert(asTriples(JaccardDedup.containmentPairs(docs, t, n)) ===
        asTriples(naive(t, n)), s"threshold $t ngram $n")
    docs.unpersist()
  }

  test("containment maxDf cap: common-only overlap dropped, rare overlap kept, ranks still full-order") {
    // 10 docs share a boilerplate prefix (its trigrams have df=10); each
    // also carries unique filler. Pairwise containment among them is 4/7 ≥
    // 0.5, but EVERY shared trigram is common — with maxDf=3 the contract
    // excludes all 45 pairs. Docs 100/101 share 3 rare trigrams (df=2):
    // kept at containment 1.0. The uncapped call still finds everything.
    val boiler = "common one two three four five"
    val docs = ((0L until 10L).map(i =>
        (i, s"$boiler f${i}a f${i}b f${i}c")) ++ Seq(
        (100L, "rare alpha beta gamma delta"),
        (101L, "rare alpha beta gamma delta h1 h2 h3 h4 h5")))
      .toDF("doc_id", "text")
    val capped = JaccardDedup.containmentPairs(docs, threshold = 0.5, ngram = 3, maxDf = 3L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(capped === Set((100L, 101L, 1.0)))
    val uncapped = JaccardDedup.containmentPairs(docs, threshold = 0.5, ngram = 3,
      maxDf = Long.MaxValue).count()
    assert(uncapped === 46L, "uncapped must keep the 45 boiler pairs + the rare pair")
  }

  test("lossless at t=0.9: the FP-undercount counterexample pair is found") {
    // J(A,B) = 9/10 exactly; with floor((1-0.9)*10)+1 = 1 the rarest token
    // 'unique0' is A's whole prefix, B's prefix misses it, and the pair
    // would vanish. The decimal prefix length (2) keeps it.
    val a = (1 to 9).map(i => s"s$i").mkString(" ") + " unique0"
    val b = (1 to 9).map(i => s"s$i").mkString(" ")
    val docs = Seq((1L, "s1", a.length, a), (2L, "s1", b.length, b))
      .toDF("doc_id", "source", "n_chars", "text")
    val got = asTriples(JaccardDedup.similarPairs(docs, 0.9))
    assert(got === Seq((1L, 2L, 0.9)))
  }
}

class TopKAggSpec extends SparkSpec {
  import spark.implicits._

  test("bounded-buffer top-k == window row_number top-k; partial agg in plan") {
    val orders = graft.Tables.orders(spark, "/root/testdata/sf0.001")
    val viaAgg = graft.SparkEntry.queries("x_topk_agg")(spark, "/root/testdata/sf0.001")
    val viaWindow = graft.SparkEntry.queries("q8_top_orders_per_customer")(
      spark, "/root/testdata/sf0.001")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("o_custkey", "o_orderkey", "o_totalprice", "rk")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .sorted.toSeq
    assert(rows(viaAgg) === rows(viaWindow))
    // two-phase: a partial ObjectHashAggregate runs below the exchange, so
    // the shuffle carries k-bounded buffers, not all rows
    val plan = viaAgg.queryExecution.executedPlan.toString
    assert("ObjectHashAggregate".r.findAllIn(plan).size >= 2, plan.take(3000))
    assert(orders.count() > rows(viaAgg).size.toLong) // actually pruned
  }

  test("reduce keeps order, truncates at k, handles ties by smaller id") {
    val agg = new TopKAgg(2)
    val buf = Seq((5.0, 10L), (5.0, 3L), (1.0, 7L), (9.0, 1L))
      .foldLeft(agg.zero)(agg.reduce)
    assert(buf === Seq((9.0, 1L), (5.0, 3L))) // tie at 5.0 -> id 3 beats 10
    val merged = agg.merge(buf, Seq((7.0, 2L)).foldLeft(agg.zero)(agg.reduce))
    assert(merged === Seq((9.0, 1L), (7.0, 2L)))
  }
}

class HeavyHittersAggSpec extends SparkSpec {
  import spark.implicits._

  test("MG guarantee: items above n/(k+1) always present, undercount bounded") {
    // 1000 items: "hot" 400×, "warm" 250×, 350 singletons
    val items = Seq.fill(400)("hot") ++ Seq.fill(250)("warm") ++
      (0 until 350).map(i => s"cold$i")
    val k = 9
    val agg = new HeavyHittersAgg(k)
    // distributed run through the real typed-UDAF path, multiple partitions
    val got = items.toDS().repartition(8)
      .groupByKey(_ => 0).mapValues(identity)
      .agg(agg.toColumn.name("hh")).collect().head._2
    val n = items.size
    val slack = n / (k + 1) // = 100
    assert(got.contains("hot") && got.contains("warm")) // freq > n/(k+1)
    assert(got("hot") <= 400 && got("hot") >= 400 - slack)
    assert(got("warm") <= 250 && got("warm") >= 250 - slack)
    assert(got.size <= k)
  }

  test("MG mergeability: merged shard summaries keep the combined guarantee") {
    val agg = new HeavyHittersAgg(4)
    val shard1 = Seq.fill(60)("x") ++ (0 until 30).map(i => s"a$i")
    val shard2 = Seq.fill(50)("x") ++ (0 until 40).map(i => s"b$i")
    def sketch(s: Seq[String]) = s.foldLeft(agg.zero)(agg.reduce)
    val merged = agg.merge(sketch(shard1), sketch(shard2))
    val n = shard1.size + shard2.size // 180, slack n/5 = 36
    assert(merged.contains("x")) // true freq 110 > 36
    assert(merged("x") <= 110 && merged("x") >= 110 - n / 5)
    assert(merged.size <= 4)
  }
}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    (0L, Array(1f, 0f)), (1L, Array(1f, 0.01f)), (2L, Array(0f, 1f)),
    (3L, Array(-1f, 0f)), (4L, Array(0.9f, 0.1f))).toDF("vec_id", "embedding")

  test("brute-force top-k ranks by exact cosine, deterministic tiebreak") {
    val got = Similarity.bruteForceTopK(corpus, corpus.filter($"vec_id" === 0), k = 3)
      .orderBy("rk").collect().map(r => (r.getLong(1), r.getInt(3)))
    assert(got.toSeq === Seq((1L, 1), (4L, 2), (2L, 3)))
  }

  test("IVF probes recover same-cluster neighbours (top-1 agrees with brute)") {
    // 4 well-separated clusters on orthogonal axes in 4-D; seed vectors
    // (ids 0-3) are one per cluster, so Lloyd converges immediately
    val vecs = (0 until 48).map { i =>
      val base = Array.fill(4)(0f)
      base(i % 4) = 1f
      base((i % 4 + 1) % 4) = 0.05f * (i / 4) // small deterministic jitter
      (i.toLong, base)
    }
    val corpus = vecs.toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" < 8)
    val ivf = Similarity.ivfTopK(corpus, queries, k = 3, nlist = 4, nprobe = 1, iters = 2)
      .filter($"rk" === 1).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val brute = Similarity.bruteForceTopK(corpus, queries, k = 3)
      .filter($"rk" === 1).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ivf === brute)
  }

  test("IVF split API: probe over a persisted assignment == one-shot ivfTopK") {
    val vecs = (0 until 48).map { i =>
      val base = Array.fill(4)(0f)
      base(i % 4) = 1f
      base((i % 4 + 1) % 4) = 0.05f * (i / 4)
      (i.toLong, base)
    }
    val corpus = vecs.toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" < 8)
    val model = Similarity.ivfTrain(corpus, nlist = 4, iters = 2)
    val assigned = Similarity.ivfAssign(corpus, model).persist()
    assigned.count()
    val split = Similarity.ivfProbe(assigned, model, queries, k = 3, nprobe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).sorted
    val oneShot = Similarity.ivfTopK(corpus, queries, k = 3, nlist = 4, nprobe = 1, iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).sorted
    assigned.unpersist()
    assert(split.toSeq === oneShot.toSeq)
  }

  test("IVF layout serving: cid-partitioned files, probe prunes partitions, same results") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter($"vec_id" < 3)
    val model = Similarity.ivfTrain(emb, nlist = 8, iters = 1)
    val assigned = Similarity.ivfAssign(emb, model)
    val dir = scratch("ivf") + "/layout"
    Similarity.ivfWriteAssignment(assigned, dir)
    assert(new java.io.File(dir).listFiles().exists(_.getName.startsWith("cid=")))
    val fromLayout = Similarity.ivfProbeFromLayout(spark, dir, model, q, k = 5, nprobe = 2)
    val plan = fromLayout.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cid"), plan.take(3000)) // files pruned pre-IO
    val inMem = Similarity.ivfProbe(assigned, model, q, k = 5, nprobe = 2)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).sorted.toSeq
    assert(rows(fromLayout) === rows(inMem))
  }

  test("IVF recall@10 vs brute force on real embeddings stays above 0.6") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter($"vec_id" < 5)
    val model = Similarity.ivfTrain(emb, nlist = 16, iters = 2)
    val assigned = Similarity.ivfAssign(emb, model)
    val ivf = Similarity.ivfProbe(assigned, model, q, k = 10, nprobe = 4)
      .select($"q_id", $"n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = Similarity.bruteForceTopK(emb, q, k = 10)
      .select($"q_id", $"n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (ivf intersect brute).size.toDouble / brute.size
    assert(recall >= 0.6, s"recall@10 = $recall")
  }

  test("banded-LSH pair search: subset of exact; full recall on planted near-dups") {
    val rnd = new scala.util.Random(11)
    // 6 tight clusters (true near-dups, cos > 0.99) + 20 random vectors
    val planted = (0 until 6).flatMap { c =>
      val base = Array.fill(16)(rnd.nextGaussian().toFloat)
      (0 until 2).map { j =>
        val v = base.clone(); v(0) += 0.01f * j
        ((c * 2 + j).toLong, v)
      }
    }
    val noise = (100 until 120).map(i => (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat)))
    val corpus = (planted ++ noise).toDF("vec_id", "embedding")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.embedPairsExact(corpus, threshold = 0.99))
    val lsh = pairs(Similarity.embedPairsLsh(corpus, threshold = 0.99, nPlanes = 8, nBands = 6))
    assert(exact.size >= 6) // each planted cluster yields its pair
    assert(lsh.subsetOf(exact)) // exact verify => no false positives, ever
    // near-identical vectors agree on every sketch bit with overwhelming
    // probability; 6 independent bands drive the miss rate to ~0
    assert(lsh === exact, s"missed ${exact -- lsh}")
    // the md5-hyperplane twin obeys the same contracts over the same data
    val md5 = pairs(Similarity.embedPairsLshMd5(corpus, threshold = 0.99,
      nPlanes = 8, nBands = 6))
    assert(md5.subsetOf(exact))
    assert(md5 === exact, s"md5 twin missed ${exact -- md5}")
  }

  test("mineTriplets: planted positive, boundary-hugging negative, positive margin always") {
    // anchor 0 at (1,0): 1 is a near-copy (cos≈.99 → positive), 2 sits at
    // cos≈.70 — ABOVE tau, never a negative; 3 at cos=.2 and 4 at cos=-1
    // are both below tau: 3 is nearer the boundary → the hard negative
    val docs = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.99f, 0.14f)), (2L, Seq(0.7f, 0.71f)),
      (3L, Seq(0.2f, 0.98f)), (4L, Seq(-1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val t = Similarity.mineTriplets(docs, docs.filter($"vec_id" === 0L), tau = 0.35)
      .head()
    assert(t.getLong(0) === 0L && t.getLong(1) === 1L && t.getLong(3) === 3L)
    assert(t.getDouble(2) > t.getDouble(4)) // margin strictly positive
    // anchor with NO candidate above tau: pos = global max, neg = next
    // best strictly below pos_cos — pos != neg guaranteed
    val far = Seq((10L, Seq(0.0f, 1.0f)), (11L, Seq(0.30f, 0.96f)),
      (12L, Seq(0.33f, 0.95f))).toDF("vec_id", "embedding")
    val t2 = Similarity.mineTriplets(
      docs.union(far), docs.filter($"vec_id" === 4L), tau = 0.35).head()
    assert(t2.getLong(1) !== t2.getLong(3))
    assert(t2.getDouble(2) > t2.getDouble(4))
  }

  test("semDedup: planted within-cluster near-dup dropped, smaller id survives") {
    // random 16-d vectors are pairwise near-orthogonal (cos far below the
    // threshold); id 40 is a near-copy of id 0 (cos ≈ 1) — near-identical
    // vectors share a nearest centroid, so the pair is within-cluster by
    // construction and 40 (the larger id) must be the one dropped
    val rnd = new scala.util.Random(3)
    val noise = (0 until 24).map(i => (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat)))
    val copy = noise.head._2.clone(); copy(0) += 0.001f
    val corpus = (noise :+ (40L, copy)).toDF("vec_id", "embedding")
    val kept = Similarity.semDedupAll(corpus, threshold = 0.99, nlist = 4, iters = 2)
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    assert(!kept.contains(40L), "near-copy of id 0 must be dropped")
    assert(kept.contains(0L), "the smaller id of the dup pair survives")
    assert((0L until 24L).forall(kept.contains), s"only the planted dup may drop: $kept")
  }

  test("semNovelAgainstAssigned: indexed near-dup matched, fresh vector novel") {
    // corpus = 24 near-orthogonal random vectors, assigned once (the
    // maintained-index stand-in); batch: 100 near-copies corpus id 0
    // (same nearest centroid by construction -> matched, not novel),
    // 101 is fresh noise (novel)
    val rnd = new scala.util.Random(7)
    val noise = (0 until 24).map(i => (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat)))
    val corpus = noise.toDF("vec_id", "embedding")
    val copy = noise.head._2.clone(); copy(0) += 0.001f
    val batch = Seq(
      (100L, copy),
      (101L, Array.fill(16)(rnd.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    val model = Similarity.ivfTrain(corpus, nlist = 4, iters = 2)
    val novel = Similarity.semNovelAgainstAssigned(
        Similarity.ivfAssign(batch, model),
        Similarity.ivfAssign(corpus, model), threshold = 0.99)
      .collect().map(_.getLong(0)).toSet
    assert(novel === Set(101L))
    // empty corpus state: everything is novel
    val allNovel = Similarity.semNovelAgainstAssigned(
        Similarity.ivfAssign(batch, model),
        Similarity.ivfAssign(corpus.limit(0), model), threshold = 0.99)
      .collect().map(_.getLong(0)).toSet
    assert(allNovel === Set(100L, 101L))
  }

  test("semContamination: near-copy of an eval vector flagged with hit count + max cos") {
    // corpus = 24 near-orthogonal vectors; eval = near-copies of corpus
    // ids 0 and 1 (same nearest centroid by construction); corpus ids 0
    // and 1 must be flagged with one hit each, everything else clean
    val rnd = new scala.util.Random(11)
    val noise = (0 until 24).map(i => (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat)))
    val corpus = noise.toDF("vec_id", "embedding")
    val ev = Seq(
      (100L, { val c = noise(0)._2.clone(); c(0) += 0.001f; c }),
      (101L, { val c = noise(1)._2.clone(); c(1) += 0.001f; c }))
      .toDF("vec_id", "embedding")
    val model = Similarity.ivfTrain(corpus, nlist = 4, iters = 2)
    val got = Similarity.semContamination(
        Similarity.ivfAssign(corpus, model),
        Similarity.ivfAssign(ev, model), threshold = 0.99)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got.keySet === Set(0L, 1L))
    assert(got(0L)._1 === 1L && got(0L)._2 >= 0.99)
    // empty eval set: nothing is contaminated
    assert(Similarity.semContamination(
      Similarity.ivfAssign(corpus, model),
      Similarity.ivfAssign(ev.limit(0), model), threshold = 0.99).count() === 0)
  }

  test("autoNlist scales cluster count with the corpus, keeping cluster size flat") {
    // 10× corpus → 10× clusters (same expected cluster size = same
    // per-cluster pair work), floored at 1, capped at maxNlist
    assert(Similarity.autoNlist(10_000L, targetClusterSize = 1000L) === 10)
    assert(Similarity.autoNlist(100_000L, targetClusterSize = 1000L) === 100)
    assert(Similarity.autoNlist(10L, targetClusterSize = 1000L) === 1)
    assert(Similarity.autoNlist(Long.MaxValue, targetClusterSize = 1L) === (1 << 16))
    intercept[IllegalArgumentException](Similarity.autoNlist(10L, targetClusterSize = 0L))
    // default path (nlist = 0) still finds the planted near-dup
    val rnd = new scala.util.Random(11)
    val noise = (0 until 24).map(i => (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat)))
    val copy = noise.head._2.clone(); copy(0) += 0.001f
    val corpus = (noise :+ (40L, copy)).toDF("vec_id", "embedding")
    val kept = Similarity.semDedupAll(corpus, threshold = 0.99, iters = 2)
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    assert(!kept.contains(40L) && kept.contains(0L))
  }

  test("centroidCap bounds broadcast state by nlist x dim x 8 against the budget") {
    // 64 MB default budget: dim 1024 -> 8192 lists (64 MB exactly), never
    // the flat 2^16 ceiling (which would be a 0.5 GB broadcast)
    assert(Similarity.centroidCap(1024) === 8192)
    assert(Similarity.centroidCap(1024).toLong * 1024 * 8 <= (64L << 20))
    // low dims hit the 2^16 ceiling, not the byte budget
    assert(Similarity.centroidCap(64) === (1 << 16))
    // explicit budget math: 1 MB at dim 128 -> 1024 lists
    assert(Similarity.centroidCap(128, budgetBytes = 1L << 20) === 1024)
    // degenerate budget fails loudly
    intercept[IllegalArgumentException](Similarity.centroidCap(1024, budgetBytes = 100))
    // and autoNlist composes with it: big corpus, high dim -> capped count
    assert(Similarity.autoNlist(1L << 40, maxNlist = Similarity.centroidCap(1024)) === 8192)
  }

  test("semDedup with one cluster == pairwise rule over exact pair join") {
    val rnd = new scala.util.Random(7)
    val corpus = ((0 until 30).map(i => (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat)))
      :+ (30L, Array.fill(8)(0.5f)) :+ (31L, Array.fill(8)(0.5001f)))
      .toDF("vec_id", "embedding")
    // nlist=1 ⇒ every pair is within-cluster, so the kept set must equal
    // "corpus minus every vec_b of the exact pair join" — the clustered
    // form's only approximation is cross-cluster pairs, removed here
    val exactDrop = Similarity.embedPairsExact(corpus, threshold = 0.98)
      .select($"vec_b").collect().map(_.getLong(0)).toSet
    val kept = Similarity.semDedupAll(corpus, threshold = 0.98, nlist = 1, iters = 1)
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    val all = (0L to 31L).toSet
    assert(kept === (all -- exactDrop))
    assert(exactDrop.contains(31L)) // the planted near-identical pair fired
  }

  test("semDedup recall eval: sem-drop ⊆ true-drop at any nlist; recall 1 at nlist=1") {
    // several planted near-dup pairs among near-orthogonal noise: the
    // clustered drop set can only MISS true drops (cross-cluster pairs),
    // never add — the containment the x_dedup_semantic_recall entry rests on
    val rnd = new scala.util.Random(19)
    val noise = (0 until 20).map(i => (i.toLong, Array.fill(12)(rnd.nextGaussian().toFloat)))
    val copies = Seq(0, 3, 7).zipWithIndex.map { case (src, j) =>
      val c = noise(src)._2.clone(); c(0) += 0.001f; (40L + j, c)
    }
    val corpus = (noise ++ copies).toDF("vec_id", "embedding")
    val trueDrop = Similarity.embedPairsExact(corpus, threshold = 0.99)
      .select($"vec_b").collect().map(_.getLong(0)).toSet
    assert(trueDrop === Set(40L, 41L, 42L)) // the planted copies, larger ids
    val all = corpus.select($"vec_id").collect().map(_.getLong(0)).toSet
    for (nlist <- Seq(1, 4, 8)) {
      val kept = Similarity.semDedupAll(corpus, threshold = 0.99, nlist = nlist, iters = 2)
        .select($"vec_id").collect().map(_.getLong(0)).toSet
      val semDrop = all -- kept
      assert(semDrop.subsetOf(trueDrop), s"nlist=$nlist added a false drop: $semDrop")
      if (nlist == 1) assert(semDrop === trueDrop) // no cross-cluster miss possible
    }
  }

  test("LSH bucketing keeps identical-direction vectors together") {
    val got = Similarity.lshTopK(corpus, corpus.filter($"vec_id" === 0), k = 3, nPlanes = 4)
      .collect().map(_.getLong(1)).toSet
    assert(got.contains(1L)) // same-direction vector must share every sketch bit
    // recall vs brute force is measured, not assumed
    val brute = Similarity.bruteForceTopK(corpus, corpus.filter($"vec_id" === 0), k = 3)
      .collect().map(_.getLong(1)).toSet
    assert((got intersect brute).nonEmpty)
  }

  test("lshTopKMd5 (oracle twin): same-direction recall + results are a ranked bucket subset of brute force") {
    val q = corpus.filter($"vec_id" === 0)
    val got = Similarity.lshTopKMd5(corpus, q, k = 3, nPlanes = 4)
      .collect().map(r => (r.getLong(1), r.getInt(3)))
    // identical-direction vector shares every md5-plane sign bit -> found
    assert(got.map(_._1).contains(1L))
    // ranks are contiguous from 1 (the top-k window ran over the bucket)
    assert(got.map(_._2).sorted.toSeq === (1 to got.length))
    // every reported cosine matches the exact brute-force cosine for that pair
    val brute = Similarity.bruteForceTopK(corpus, q, k = corpus.count().toInt)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toMap
    Similarity.lshTopKMd5(corpus, q, k = 3, nPlanes = 4)
      .collect().foreach(r => assert(r.getDouble(2) === brute(r.getLong(1))))
  }
}

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("binary pipeline: deterministic stub decode, schema, batch shape") {
    val media = Seq(
      Multimodal.MediaRecord(1L, "hello".getBytes("UTF-8"), "text/plain"),
      Multimodal.MediaRecord(2L, Array[Byte](), "empty")).toDS()
    val out = Multimodal.extractFeatures(media).collect().sortBy(_.media_id)
    assert(out(0).n_bytes === 5L && out(1).n_bytes === 0L)
    assert(out(0).feature.length === 4)
    // determinism: same payload -> same features
    val again = Multimodal.extractFeatures(media).collect().sortBy(_.media_id)
    assert(again(0).feature.toSeq === out(0).feature.toSeq)
    assert(out(0).width < 640 && out(0).height < 480)
  }

  test("decode dispatch: audio/* lands on the real RIFF codec, true count/rate/features") {
    val samples = Array.tabulate(800)(k => ((k * 48271) % 65536 - 32768).toShort)
    val media = Seq(
      Multimodal.MediaRecord(3L, Audio.writeWav(samples, 8000), "audio/wav"),
      Multimodal.MediaRecord(4L, "opaque".getBytes("UTF-8"), "application/x-unknown")).toDS()
    val out = Multimodal.extractFeatures(media).collect().sortBy(_.media_id)
    // audio: width = n_samples, height = sample rate — true container facts
    assert(out(0).width === 800 && out(0).height === 8000)
    assert(out(0).feature(0) === 800f / 8000) // duration s
    val expMean = samples.map(s => math.abs(s.toInt).toLong).sum.toDouble / 800 / 32768.0
    assert(math.abs(out(0).feature(1) - expMean) < 1e-6)
    assert(out(0).feature(2) === samples.map(s => math.abs(s.toInt)).max / 32768f)
    // unknown type still flows through the opaque featurizer, not a codec
    assert(out(1).width < 640 && out(1).height < 480)
  }

  test("real ImageIO decode: hand-built PNG round-trips dimensions and mean RGB") {
    val img = new java.awt.image.BufferedImage(3, 2, java.awt.image.BufferedImage.TYPE_INT_RGB)
    // six known pixels: pure red, green, blue on row 0; black ×3 on row 1
    img.setRGB(0, 0, 0xff0000); img.setRGB(1, 0, 0x00ff00); img.setRGB(2, 0, 0x0000ff)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val media = Seq(Multimodal.MediaRecord(7L, bos.toByteArray, "image/png")).toDS()
    val out = Multimodal.extractFeatures(media).head()
    assert(out.width === 3 && out.height === 2)
    assert(out.n_bytes === bos.toByteArray.length.toLong)
    // mean of each channel = 255/6 -> 1/6 after normalization
    val expected = 255f / 6 / 255f
    assert(out.feature.take(3).forall(f => math.abs(f - expected) < 1e-6))
    assert(out.feature(3) === 1.5f) // aspect = 3/2
  }

  test("resize: downscales with exact integer geometry, keeps small images") {
    val big = new java.awt.image.BufferedImage(40, 10, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val small = new java.awt.image.BufferedImage(8, 5, java.awt.image.BufferedImage.TYPE_INT_RGB)
    def png(i: java.awt.image.BufferedImage) = {
      val b = new java.io.ByteArrayOutputStream(); javax.imageio.ImageIO.write(i, "png", b); b.toByteArray
    }
    val media = Seq(
      Multimodal.MediaRecord(1L, png(big), "image/png"),
      Multimodal.MediaRecord(2L, png(small), "image/png")).toDS()
    val out = Multimodal.extractFeatures(Multimodal.resizeImages(media, maxDim = 16))
      .collect().sortBy(_.media_id)
    assert((out(0).width, out(0).height) === ((16, 4))) // 40x10 -> 16 x (10*16/40)
    assert((out(1).width, out(1).height) === ((8, 5)))  // already in bounds: untouched
  }

  test("frame sampling: container round-trips; only strided frames decode") {
    def png(w: Int, h: Int) = {
      val i = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val b = new java.io.ByteArrayOutputStream(); javax.imageio.ImageIO.write(i, "png", b); b.toByteArray
    }
    val payload = Multimodal.packFrames(Seq(png(3, 2), png(5, 4), png(7, 6)))
    assert(Multimodal.unpackFrames(payload).map(_._1) === Seq(0, 1, 2))
    val media = Seq(Multimodal.MediaRecord(9L, payload, "video/x-frames")).toDS()
    val got = Multimodal.sampleFrames(media, stride = 2)
      .collect().sortBy(_.frame_idx).map(f => (f.frame_idx, f.width, f.height))
    assert(got.toSeq === Seq((0, 3, 2), (2, 7, 6))) // frame 1 skipped
  }

  test("dHash60: brightness-shift invariant, locality under a one-pixel edit") {
    def img(f: (Int, Int) => Int): java.awt.image.BufferedImage = {
      val i = new java.awt.image.BufferedImage(18, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 16; x <- 0 until 18) i.setRGB(x, y, f(x, y) & 0xffffff)
      i
    }
    val base = img((x, y) => x * 1000003 + y * 8191)
    // uniform +16 per channel: every grayscale shifts by 16, every block
    // mean by 16, every gradient SIGN is unchanged — the invariance that
    // makes dHash a perceptual hash rather than a byte hash
    val brighter = img((x, y) => {
      val v = (x * 1000003 + y * 8191) & 0xffffff
      (math.min(255, ((v >> 16) & 0xff) + 16) << 16) |
        (math.min(255, ((v >> 8) & 0xff) + 16) << 8) | math.min(255, (v & 0xff) + 16)
    })
    assert(Multimodal.dHash60(base) === Multimodal.dHash60(brighter))
    // a single-pixel edit moves at most the two gradients touching its block
    val edited = img((x, y) => if (x == 0 && y == 0) 0xffffff else x * 1000003 + y * 8191)
    val d = java.lang.Long.bitCount(Multimodal.dHash60(base) ^ Multimodal.dHash60(edited))
    assert(d <= 2, s"one-pixel edit moved $d dHash bits")
    // hashes stay signed-positive (60-bit convention)
    assert(Multimodal.dHash60(base) >= 0L && Multimodal.aHash60(base) >= 0L)
  }

  test("pHash60: exact brightness-shift invariance (zero-sum DCT rows), sensitivity, sign") {
    def img(f: (Int, Int) => Int): java.awt.image.BufferedImage = {
      val i = new java.awt.image.BufferedImage(18, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 16; x <- 0 until 18) i.setRGB(x, y, f(x, y) & 0xffffff)
      i
    }
    // the quantized basis keeps the exact zero row sums of the real DCT
    // (the ± pairing survives rounding) — the invariance's precondition
    assert(Multimodal.DctQ.drop(1).forall(_.sum === 0L))
    assert(Multimodal.DctQ(0).forall(_ === 1024L))
    // channels capped at 0xE0 so +16 never clips: every block mean shifts
    // by exactly 16, every non-DC coefficient is bit-identical
    def capped(x: Int, y: Int): Int = (x * 1000003 + y * 8191) & 0xE0E0E0
    val base = img(capped)
    val brighter = img((x, y) => capped(x, y) + 0x101010)
    assert(Multimodal.pHash60(base) === Multimodal.pHash60(brighter))
    // a structurally different image lands far away
    val other = img((x, y) => (y * 999331 + x * 131) & 0xE0E0E0)
    val d = java.lang.Long.bitCount(Multimodal.pHash60(base) ^ Multimodal.pHash60(other))
    assert(d > 10, s"distinct images must differ widely, got hamming $d")
    // 60-bit signed-positive convention; deterministic
    assert(Multimodal.pHash60(base) >= 0L)
    assert(Multimodal.pHash60(base) === Multimodal.pHash60(img(capped)))
  }

  test("image near-dup: banded pairs == all-pairs hamming; dedup fixture has planted structure") {
    val docs = (0L until 40L).map(id => (id, s"t$id", 1L)).toDF("doc_id", "text", "n_chars")
    val media = Multimodal.dedupMediaFromDocuments(spark, docs)
    val sigs = Multimodal.perceptualHashes(media)
      .select($"media_id", $"dhash").as[(Long, Long)].collect().toMap
    // same seed (doc_id % 101 equal does not occur under 40 ids; use %3
    // groups): ids 3 and 9 share seed? No — seeds differ; instead check
    // identical PIXELS => identical hash via ids 0 and 0 (trivial) and the
    // banded join against the brute-force reference:
    val banded = Multimodal.imageNearDuplicates(media, maxDist = 3)
      .select($"media_a", $"media_b", $"hamming")
      .as[(Long, Long, Int)].collect().toSet
    val brute = (for {
      (a, ha) <- sigs; (b, hb) <- sigs if a < b
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 3
    } yield (a, b, d)).toSet
    assert(banded === brute)
  }

  test("dedup fixture: same-seed docs hash identically; the perturbation is a near-dup") {
    // ids 5 and 106 share seed 5 (106 % 101 = 5), neither is % 3 == 0 ->
    // identical images -> hamming 0; id 207 shares the seed AND is
    // perturbed (two-block red-bit xor) -> near-dup at hamming <= 3 (the
    // perturbed blocks touch dHash bits {0} and {17,18} only)
    val docs = Seq(5L, 106L, 207L).map(id => (id, s"t$id", 1L))
      .toDF("doc_id", "text", "n_chars")
    val sigs = Multimodal.perceptualHashes(
      Multimodal.dedupMediaFromDocuments(spark, docs))
      .select($"media_id", $"dhash").as[(Long, Long)].collect().toMap
    assert(sigs(5L) === sigs(106L))
    assert(java.lang.Long.bitCount(sigs(5L) ^ sigs(207L)) <= 3)
  }

  test("imageDedupGroups (hash-first) == CC over the expanded pair graph") {
    // ids chosen for structure: {5, 106, 207, 308} share seed 5 (207 is
    // perturbed -> its own hash, bridged at small hamming); {7, 108} share
    // seed 7; 1 and 2 are singleton seeds with no near hash
    val ids = Seq(5L, 106L, 207L, 308L, 7L, 108L, 1L, 2L)
    val docs = ids.map(id => (id, s"t$id", 1L)).toDF("doc_id", "text", "n_chars")
    val media = Multimodal.dedupMediaFromDocuments(spark, docs)
    val fast = Multimodal.imageDedupGroups(media, maxDist = 3)
      .as[(Long, Long)].collect().toMap
    val expanded = graft.ext.Components.connectedComponents(
      Multimodal.imageNearDuplicates(media, maxDist = 3)
        .select($"media_a".as("doc_a"), $"media_b".as("doc_b")))
      .as[(Long, Long)].collect().toMap
    assert(fast === expanded)
    assert(fast.get(5L) === Some(5L) && fast.get(106L) === Some(5L))
    assert(!fast.contains(1L) && !fast.contains(2L)) // no pair -> no row
  }

  test("shotBoundaries: luma-delta flags match a direct per-frame recomputation") {
    val ids = Seq(3L, 9L, 14L) // 4, 5, 5 frames respectively (id % 5 + 1)
    val docs = ids.map(id => (id, s"t$id", 1L)).toDF("doc_id", "text", "n_chars")
    val out = Multimodal.shotBoundaries(
      Multimodal.frameMediaFromDocuments(spark, docs), threshold = 8)
      .collect().groupBy(_.media_id).view
      .mapValues(_.sortBy(_.frame_idx).toList).toMap
    for (id <- ids) {
      val means = (0 to (id % 5).toInt).map { i =>
        val grays = (0 to i).flatMap { x =>
          Seq((id * 31 + x) & 0xffffff, (id * 131 + x) & 0xffffff).map { v =>
            (((v >> 16) & 0xff) + ((v >> 8) & 0xff) + (v & 0xff)) / 3
          }
        }
        grays.sum / grays.size
      }
      val frames = out(id)
      assert(frames.map(_.mean_gray) === means.map(_.toLong))
      assert(frames.head.is_boundary === 0, "frame 0 is never a boundary")
      for (i <- 1 until frames.size)
        assert(frames(i).is_boundary ===
          (if (math.abs(means(i) - means(i - 1)) > 8) 1 else 0))
    }
  }

  test("pngMediaFromDocuments: encode on executors, decode recovers formula dims") {
    val docs = Seq((5L, "hello world"), (100L, "x" * 200))
      .map { case (id, t) => (id, t, t.length.toLong) }
      .toDF("doc_id", "text", "n_chars")
    val media = Multimodal.pngMediaFromDocuments(spark, docs)
    val out = Multimodal.extractFeatures(media).collect().sortBy(_.media_id)
    assert(out(0).width === 11 % 64 + 1 && out(0).height === (5 % 48) + 1)
    assert(out(1).width === 200 % 64 + 1 && out(1).height === (100 % 48) + 1)
    assert(out(0).media_type === "image/png")
  }
}

class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  test("sentenceStats: splits on terminal punctuation + space, drops empty segments") {
    val docs = Seq(
      (1L, "One. Two! Three? Four"),  // 4 sentences
      (2L, "No terminal punctuation"), // 1
      (3L, "Trailing. "),              // "Trailing" + empty -> 1
      (4L, "")).toDF("doc_id", "text") // all-empty -> no row
    val out = TextOps.sentenceStats(docs)
      .as[(Long, Int, Long, Int)].collect().sortBy(_._1)
    assert(out.map(t => (t._1, t._2)).toSeq === Seq((1L, 4), (2L, 1), (3L, 1)))
    assert(out(0)._3 === ("One".length + "Two".length + "Three".length + "Four".length).toLong)
    assert(out(2)._4 === "Trailing".length)
  }

  test("compressionStats: repetitive text compresses below prose; exact byte accounting") {
    val prose = (1 to 60).map(i => s"w${i * 7919 % 997}x${i}").mkString(" ")
    val df = Seq(
      (1L, "spam " * 200),                 // highly repetitive
      (2L, prose),                         // diverse tokens
      (3L, "")).toDF("doc_id", "text")     // empty: ratio 1.0, never NaN
    val got = TextOps.compressionStats(df, "doc_id", "text")
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got(1L)._2 === 1000L)           // raw bytes exact
    assert(got(1L)._4 < 0.1, s"repetitive ratio ${got(1L)._4}")
    assert(got(2L)._4 > got(1L)._4 * 3, "prose must compress far worse than spam")
    assert(got(3L) === ((3L, 0L, got(3L)._3, 1.0)))
    // deterministic: identical on a re-run
    val again = TextOps.compressionStats(df, "doc_id", "text")
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(again === got)
  }

  test("scrub replaces urls, emails, digit runs; url digits not double-tagged") {
    val df = Seq(
      (1L, "visit https://ex.com/p?id=99 or mail a.b@ex.org now"),
      (2L, "version 2 of 10 things")).toDF("doc_id", "text")
    val got = df.select(TextOps.scrub(org.apache.spark.sql.functions.col("text")).as("s"))
      .as[String].collect()
    assert(got(0) === "visit <URL> or mail <EMAIL> now")
    assert(got(1) === "version <NUM> of <NUM> things")
  }

  test("fingerprint matches the hand-computed polynomial fold") {
    // f("ab") = 2*31 + 97 = 159 ; f("cd") = 2*31 + 99 = 161
    // fold: (0*131+159)*131 + 161 = 20990
    val got = Seq("ab cd").toDF("text")
      .select(TextOps.fingerprint("text")).as[Long].head()
    assert(got === 159L * 131 + 161)
  }

  test("stats columns") {
    val r = Seq("the cat sat on the mat").toDF("text").select(
      TextOps.nWords($"text"), TextOps.nDistinctWords($"text"),
      TextOps.stopwordCount("text", TextOps.DefaultStopwords)).head()
    assert((r.getInt(0), r.getInt(1), r.getInt(2)) === ((6, 5, 2))) // "the" ×2
  }

  test("quality rules: each rule trips on its designed failure mode") {
    val good = ((1 to 30).map(i => s"word$i") ++ Seq("the", "of", "and")).mkString(" ")
    val tooShort = "just five words right here"
    val repetitive = Seq.fill(40)("spam").mkString(" ") // diversity 1/40
    val noStops = (1 to 40).map(i => s"w$i").mkString(" ")
    val cols = TextOps.qualityScore("text").as("s") +:
      TextOps.qualityRules("text").map { case (n, c) => c.as(n) }
    val got = Seq(good, tooShort, repetitive, noStops).toDF("text")
      .select(cols: _*).collect()
    assert(got(0).getInt(0) === 4) // good doc passes everything
    assert(got(1).getAs[Int]("r_len") === 0)
    assert(got(2).getAs[Int]("r_diverse") === 0)
    assert(got(3).getAs[Int]("r_stop") === 0)
  }

  test("langid prefers the language with most marker hits; CJK short-circuits") {
    val r = Seq("der hund und die katze", "汉字 text", "le chat et la souris")
      .toDF("text").select(TextOps.predictedLang("text")).as[String].collect()
    assert(r.toSeq === Seq("de", "zh", "fr"))
  }
}

class SinksSpec extends SparkSpec {
  import graft.io.Sinks
  import org.apache.spark.sql.types._

  test("K2 dynamic DDL type rules (bronze.py:94-98 semantics)") {
    val schema = StructType(Seq(
      StructField("título", StringType), StructField("parceiro", StringType),
      StructField("data_de_celebração", DateType), StructField("ano", IntegerType)))
    // Spark-parseable DDL: STRING (→ dialect TEXT/CLOB) and backquoted names
    assert(Sinks.columnTypeDdl(schema) ===
      "`título` STRING, `parceiro` VARCHAR(255), `data_de_celebração` DATE, `ano` INT")
  }

  test("K4 upsert statement shapes (MySQL + ANSI MERGE)") {
    assert(Sinks.upsertSql("t", Seq("a", "b")) ===
      "INSERT INTO t (a, b) VALUES (?, ?) ON DUPLICATE KEY UPDATE a = VALUES(a), b = VALUES(b)")
    assert(Sinks.upsertSqlMerge("t", Seq("k", "v"), Seq("k")) ===
      "MERGE INTO t AS t USING SYSIBM.SYSDUMMY1 ON (t.k = ?) " +
        "WHEN MATCHED THEN UPDATE SET t.v = ? " +
        "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (?, ?)")
    // all-key presence table: WHEN MATCHED must be omitted, not empty
    assert(Sinks.upsertSqlMerge("t", Seq("k"), Seq("k")) ===
      "MERGE INTO t AS t USING SYSIBM.SYSDUMMY1 ON (t.k = ?) " +
        "WHEN NOT MATCHED THEN INSERT (k) VALUES (?)")
  }
}
