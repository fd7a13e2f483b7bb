package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Units for the corpus-prep additions: decontamination, repetition
  * signals, stratified sampling, per-domain quotas.
  */
class DataPrepOpsSpec extends SparkSpec {
  import spark.implicits._

  test("ngrams: sliding windows; short docs yield empty, not a fabricated window") {
    val df = Seq((1L, "a b c d"), (2L, "a b"), (3L, "a")).toDF("doc_id", "text")
    val got = df.select(col("doc_id"), Decontaminate.ngrams("text", 3).as("ngs"))
      .as[(Long, Seq[String])].collect().toMap
    assert(got(1L) === Seq("a b c", "b c d"))
    assert(got(2L) === Seq.empty) // size-2 doc, n=3: Spark sequence would DESCEND here
    assert(got(3L) === Seq.empty)
  }

  test("contaminated: flags exactly the docs sharing an n-gram, with distinct counts") {
    val train = Seq(
      (10L, "the quick brown fox jumps"),      // shares "quick brown fox", "brown fox jumps"
      (11L, "completely unrelated words here"),
      (12L, "quick brown fox quick brown fox") // shares "quick brown fox" (counted once)
    ).toDF("doc_id", "text")
    val eval = Seq((100L, "a quick brown fox jumps high")).toDF("doc_id", "text")
    val got = Decontaminate.contaminated(train, eval, n = 3)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(10L -> 2L, 12L -> 1L))
    val kept = Decontaminate.removeContaminated(train, eval, n = 3)
      .select("doc_id").as[Long].collect().toSeq
    assert(kept === Seq(11L))
  }

  test("contaminationFraction: clean docs at 0.0, short docs never divide by zero") {
    val train = Seq(
      (10L, "the quick brown fox jumps"),      // 3 distinct 3-grams, 2 shared
      (11L, "completely unrelated words here"),
      (12L, "too short"),                      // 0 3-grams
      (13L, null.asInstanceOf[String])         // dirty corpus: NULL text
    ).toDF("doc_id", "text")
    val eval = Seq((100L, "a quick brown fox jumps high")).toDF("doc_id", "text")
    val got = Decontaminate.contaminationFraction(train, eval, n = 3)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got(10L) === ((10L, 3L, 2L, 2.0 / 3.0)))
    assert(got(11L) === ((11L, 2L, 0L, 0.0))) // clean but PRESENT, frac 0
    assert(got(12L) === ((12L, 0L, 0L, 0.0))) // no n-grams: 0, not NaN
    assert(got(13L) === ((13L, 0L, 0L, 0.0))) // NULL text: (0, 0, 0.0), not NULL
    assert(got.size === 4)
  }

  test("byWeight: weight 0 drops all, 1 keeps all, intermediate matches the hex rule") {
    val df = (0L until 1000L).map(i => (i, (i % 5).toInt)).toDF("doc_id", "score")
    val w = col("score") / 4.0
    assert(graft.ops.Sampling.byWeight(df.filter(col("score") === 0), col("doc_id"), w)
      .count() === 0L)
    assert(graft.ops.Sampling.byWeight(df.filter(col("score") === 4), col("doc_id"), w)
      .count() === df.filter(col("score") === 4).count())
    val kept = graft.ops.Sampling.byWeight(df, col("doc_id"), w)
      .select("doc_id").as[Long].collect().toSet
    // deterministic: a re-run selects the identical set
    val kept2 = graft.ops.Sampling.byWeight(df, col("doc_id"), w)
      .select("doc_id").as[Long].collect().toSet
    assert(kept === kept2)
    // acceptance rate of the score-2 band ≈ 1/2 (binomial, 200 draws)
    val mid = kept.count(i => i % 5 == 2)
    assert(mid > 60 && mid < 140, s"score-2 band kept $mid of 200")
    // the hex-threshold rule, recomputed row by row on the driver
    val md = java.security.MessageDigest.getInstance("MD5")
    def u4(id: Long): String = {
      md.reset()
      md.digest(s"w:$id".getBytes("UTF-8")).take(2).map("%02x".format(_)).mkString
    }
    val want = (0L until 1000L).filter { i =>
      val s = i % 5
      s == 4 || u4(i) < "%04x".format(s * 16384)
    }.toSet
    assert(kept === want)
  }

  test("repetition signals: exact counts on a constructed repetitive doc") {
    val df = Seq((1L, "x y x y x")).toDF("doc_id", "text")
    // 2-grams: [x y, y x, x y, y x] -> top count 2, 2 distinct of 4
    val r = df.select(
      TextOps.nNgrams("text", 2).as("n"),
      TextOps.topNgramCount("text", 2).as("top"),
      TextOps.topNgramFraction("text", 2).as("frac"),
      TextOps.distinctNgramRatio("text", 2).as("dr"))
      .as[(Int, Int, Double, Double)].head()
    assert(r === ((4, 2, 0.5, 0.5)))
  }

  test("stratifiedByModulo: per-stratum rates, default keeps whole") {
    val df = (0L until 30L).map(i => (i, if (i % 3 == 0) "en" else if (i % 3 == 1) "de" else "fr"))
      .toDF("doc_id", "lang")
    val got = graft.ops.Sampling.stratifiedByModulo(
      df, col("lang"), col("doc_id"), Map("en" -> 2, "de" -> 5))
      .as[(Long, String)].collect().sorted.toSeq
    val want = (0L until 30L).flatMap { i =>
      val lang = if (i % 3 == 0) "en" else if (i % 3 == 1) "de" else "fr"
      val k = lang match { case "en" => 2; case "de" => 5; case _ => 1 }
      if (i % k == 0) Some((i, lang)) else None
    }.sorted
    assert(got === want)
    intercept[IllegalArgumentException] {
      graft.ops.Sampling.stratifiedByModulo(df, col("lang"), col("doc_id"), Map("en" -> 0))
    }
  }

  test("cleanUnicode: controls stripped (tab/newline kept), zero-widths dropped, exotic spaces normalized") {
    val df = Seq(
      (1L, "a\u0007\u200Bb\uFEFFc"),          // control + zero-widths
      (2L, "x\u00A0y\u2003z\u3000w"),          // NBSP, em space, ideographic
      (3L, "keep\tthis\nline\rgone\u0002"),   // \t \n survive; \r and STX die
      (4L, "plain text")
    ).toDF("doc_id", "text")
    val got = df.select($"doc_id", TextOps.cleanUnicode($"text").as("c"))
      .as[(Long, String)].collect().toMap
    assert(got(1L) === "abc")
    assert(got(2L) === "x y z w")
    assert(got(3L) === "keep\tthis\nlinegone")
    assert(got(4L) === "plain text")
  }

  test("wordsWs: tabs/newlines/space runs yield clean tokens, never empties") {
    val df = Seq(
      (1L, " \ta  b\n\nc  "),   // leading/trailing ws, runs of every kind
      (2L, "a b c"),            // single-spaced: identical to naive split
      (3L, "\t \n ")            // all whitespace -> empty array, not [""]
    ).toDF("doc_id", "text")
    val got = df.select(col("doc_id"), TextOps.wordsWs(col("text")).as("ws"))
      .as[(Long, Seq[String])].collect().toMap
    assert(got(1L) === Seq("a", "b", "c"))
    assert(got(2L) === Seq("a", "b", "c"))
    assert(got(3L) === Seq.empty)
    // the naive split inflates the same messy doc with phantom empty tokens
    val naive = df.filter(col("doc_id") === 1L)
      .select(TextOps.words(col("text"))).as[Seq[String]].head()
    assert(naive.count(_.isEmpty) > 0)
  }

  test("ngramsOf over ws tokens: messy whitespace gives the clean doc's n-grams") {
    val clean = Seq((1L, "a b c d")).toDF("doc_id", "text")
      .select(Decontaminate.ngrams("text", 2)).as[Seq[String]].head()
    val messy = Seq((1L, " a\tb  c\nd ")).toDF("doc_id", "text")
      .select(Decontaminate.ngramsOf(TextOps.wordsWs(col("text")), 2))
      .as[Seq[String]].head()
    assert(messy === clean && clean === Seq("a b", "b c", "c d"))
  }

  test("contaminated(normalize): case/punctuation-perturbed leaks are found; plain match misses them") {
    val train = Seq(
      (10L, "the quick brown fox jumps"),
      (11L, "completely unrelated words here")).toDF("doc_id", "text")
    // eval answer as it appears in a benchmark: capitalized, punctuated
    val eval = Seq((100L, "A Quick, Brown FOX; jumps!")).toDF("doc_id", "text")
    val plain = Decontaminate.contaminated(train, eval, n = 3)
    assert(plain.isEmpty) // surface forms share no verbatim 3-gram
    val norm = Decontaminate.contaminated(train, eval, n = 3, normalize = true)
      .as[(Long, Long)].collect().toMap
    // normalized tokens: [a, quick, brown, fox, jumps] — doc 10 shares
    // "quick brown fox" and "brown fox jumps"
    assert(norm === Map(10L -> 2L))
  }

  /** Byte sizes of every literal in a physical plan, including adaptive
    * stages, subqueries and the plans of cached relations it scans.
    */
  private def literalBytes(p: org.apache.spark.sql.catalyst.plans.QueryPlan[_]): Seq[Int] = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.plans.QueryPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val own = p.expressions.flatMap(_.collect { case l: Literal => l.value match {
      case b: Array[Byte] => b.length
      case s: org.apache.spark.unsafe.types.UTF8String => s.numBytes
      case _ => l.dataType.defaultSize
    } })
    val stage = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => Nil
    }
    own ++ (p.children ++ p.innerChildren ++ p.subqueries ++ stage).flatMap {
      case q: QueryPlan[_] => literalBytes(q)
      case _ => Nil
    }
  }

  test("contaminated: the bloom is sized to the eval set, not to a constant") {
    // 300 eval docs of 12 distinct words (3,000 distinct 3-grams); every
    // 10th training doc quotes one eval passage
    val eval = (0 until 300).map(i => (1000L + i, (0 until 12).map(j => s"e${i}w$j").mkString(" ")))
      .toDF("doc_id", "text")
    val train = (0 until 100).map { i =>
      val quote = if (i % 10 == 0) s" e${i}w3 e${i}w4 e${i}w5 e${i}w6" else ""
      (i.toLong, s"train doc $i says nothing$quote")
    }.toDF("doc_id", "text")
    val dirty = Decontaminate.contaminated(train, eval, n = 3)
    assert(dirty.as[(Long, Long)].collect().toMap ===
      (0 until 100 by 10).map(i => i.toLong -> 2L).toMap)
    val limit = 64 * 1024
    val inPlan = literalBytes(dirty.queryExecution.executedPlan)
    assert(inPlan.nonEmpty && inPlan.max <= limit, s"largest plan literal ${inPlan.max} B")
    // a query over the persisted result renders the cached plan too
    val pinned = graft.Materialize.pin(dirty.select("doc_id"))
    try {
      val flags = train.select("doc_id").join(pinned.withColumn("dirty", lit(1)), Seq("doc_id"), "left")
      assert(flags.filter(col("dirty") === 1).count() === 10L)
      val overCache = literalBytes(flags.queryExecution.executedPlan)
      assert(overCache.max <= limit, s"largest plan literal ${overCache.max} B")
    } finally graft.Materialize.release(pinned)
  }

  test("contaminated: an empty eval set flags nothing") {
    val train = Seq((10L, "the quick brown fox jumps")).toDF("doc_id", "text")
    val eval = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Decontaminate.contaminated(train, eval, n = 3).isEmpty)
    assert(Decontaminate.removeContaminated(train, eval, n = 3).count() === 1L)
  }

  test("contaminated: a second call over the same eval set sizes the bloom without a count job") {
    val eval = Seq((100L, "one second call reuses the cached eval grams"),
      (101L, "lazy dogs sleep all day long")).toDF("doc_id", "text")
    val train = Seq((10L, "a second call reuses the cached copy"), (11L, "lazy dogs sleep"),
      (12L, "nothing shared here")).toDF("doc_id", "text")
    def call() = jobsDuring(Decontaminate.contaminated(train, eval, n = 3).as[(Long, Long)]
      .collect().toMap, _.startsWith("count at"))
    try {
      val (first, firstCounts) = call()
      assert(first === Map(10L -> 3L, 11L -> 1L))
      assert(firstCounts > 0, "the first call counts the eval n-grams as it caches them")
      val (second, secondCounts) = call()
      assert(secondCounts === 0, s"the second call ran $secondCounts count job(s)")
      assert(second === first)
    } finally graft.Materialize.release(
      eval.select(explode(array_distinct(Decontaminate.ngrams("text", 3))).as("ng")).distinct())
  }

  test("stopwordCount: quote-bearing stopwords count (no SQL-splice parse break)") {
    val df = Seq((1L, "don't stop l'eau don't flow")).toDF("doc_id", "text")
    val n = df.select(TextOps.stopwordCount("text", Seq("don't", "l'eau")))
      .as[Int].head()
    assert(n === 3)
  }

  test("domainQuota: caps each domain at k, keeps highest-quality then lowest id") {
    // high-quality: 25 words, avg word length > 3, stopwords present,
    // diverse; low-quality: 3 short words (fails length + word-length bands)
    def words(n: Int) = Seq.fill(n)("the quality of good text and fine words here")
      .mkString(" ").split(" ").take(n).mkString(" ")
    val docs = Seq(
      (1L, "a", "a b c"), (2L, "a", words(25)), (3L, "a", words(25)), (4L, "a", "a b c"),
      (5L, "b", words(25))).toDF("doc_id", "source", "text")
    val got = graft.pipeline.DataPrep.domainQuota(docs, "source", 2)
      .select("doc_id").as[Long].collect().sorted.toSeq
    // domain a: quality puts 2,3 first (same score -> lower ids of the high tier); b: 5
    assert(got === Seq(2L, 3L, 5L))
  }

  test("domainQuota: NULL text ranks last (no encoder crash); non-integral ids rejected") {
    def words(n: Int) = Seq.fill(n)("the quality of good text and fine words here")
      .mkString(" ").split(" ").take(n).mkString(" ")
    val docs = Seq((1L, "a", null), (2L, "a", words(25)), (3L, "a", words(25)))
      .toDF("doc_id", "source", "text")
    // k=2: the NULL-text doc loses to both scored docs — same outcome as
    // the old window's desc (nulls last) ordering
    val got = graft.pipeline.DataPrep.domainQuota(docs, "source", 2)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(got === Seq(2L, 3L))
    // and with room under the cap the NULL-text doc IS kept
    val all = graft.pipeline.DataPrep.domainQuota(docs, "source", 3)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(all === Seq(1L, 2L, 3L))
    val bad = Seq(("u1", "a", "x")).toDF("doc_id", "source", "text")
    val e = intercept[IllegalArgumentException] {
      graft.pipeline.DataPrep.domainQuota(bad, "source", 1)
    }
    assert(e.getMessage.contains("integral"), e.getMessage)
  }

  test("tokenBudgetSelect: greedy priority-order fill; crossing doc included, next excluded") {
    val docs = Seq(
      (1L, 5.0, 40L),  // rank 1: cum 40
      (2L, 4.0, 40L),  // rank 2: cum 80
      (3L, 4.0, 40L),  // rank 3 (tie -> id): cum 120, crosses budget=100 -> INCLUDED
      (4L, 3.0, 40L),  // rank 4: prefix 120 >= 100 -> excluded
      (5L, 2.0, 1L)
    ).toDF("doc_id", "score", "n_tokens")
    val got = graft.pipeline.DataPrep
      .tokenBudgetSelect(docs, budget = 100L, "score", "n_tokens")
      .select("doc_id", "cum_tokens").as[(Long, Long)].collect().sorted.toSeq
    assert(got === Seq((1L, 40L), (2L, 80L), (3L, 120L)))
    // budget larger than the corpus selects everything
    val all = graft.pipeline.DataPrep
      .tokenBudgetSelect(docs, budget = 1000L, "score", "n_tokens")
      .count()
    assert(all === 5L)
    intercept[IllegalArgumentException] {
      graft.pipeline.DataPrep.tokenBudgetSelect(docs, 0L, "score", "n_tokens")
    }
  }

  test("curriculumOrder: equal phase cuts by quality rank; within-phase positions are a shuffled bijection") {
    val docs = (1L to 100L).map(i => (i, (100 - i).toDouble)) // quality = reverse id
      .toDF("doc_id", "score")
    val got = graft.pipeline.DataPrep.curriculumOrder(docs, "score", phases = 4, epoch = 1)
      .select("doc_id", "phase", "phase_pos")
      .as[(Long, Int, Long)].collect()
    // quality desc == id asc here: phase 1 is exactly ids 1..25, etc.
    val byPhase = got.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    assert(byPhase(1) === (1L to 25L).toSet)
    assert(byPhase(4) === (76L to 100L).toSet)
    // positions within each phase are 1..25, and NOT the id order (shuffled)
    val p1 = got.filter(_._2 === 1).sortBy(_._3)
    assert(p1.map(_._3).toSeq === (1L to 25L).toSeq)
    assert(p1.map(_._1).toSeq !== (1L to 25L).toSeq)
    intercept[IllegalArgumentException] {
      graft.pipeline.DataPrep.curriculumOrder(docs, "score", phases = 0, epoch = 1)
    }
  }

  test("mergeVocabCounts: incremental fold == full recompute; df stays doc-distinct") {
    val old = Seq((1L, "a b b c"), (2L, "a d")).toDF("doc_id", "text")
    val batch = Seq((3L, "a c c e")).toDF("doc_id", "text")
    val merged = TextOps.mergeVocabCounts(TextOps.vocabCounts(old), batch)
      .as[(String, Long)].collect().toMap
    val full = TextOps.vocabCounts(old.unionByName(batch))
      .as[(String, Long)].collect().toMap
    assert(merged === full)
    assert(merged === Map("a" -> 3L, "b" -> 1L, "c" -> 2L, "d" -> 1L, "e" -> 1L))
  }

  test("languageQualityGate: each language gated against its OWN distribution") {
    // en scores 1..8, fr 101..104 — any GLOBAL p25 would pass all of fr
    val df = ((1 to 8).map(i => (i.toLong, "en", i.toDouble)) ++
      (101 to 104).map(i => (i.toLong, "fr", i.toDouble)))
      .toDF("doc_id", "lang", "score")
    val kept = graft.pipeline.DataPrep
      .languageQualityGate(df, "lang", "score", 0.25, exact = true)
      .select("doc_id").as[Long].collect().toSet
    // en p25 = 2.75 → keep 3..8; fr p25 = 101.75 → keep 102..104
    assert(kept === ((3 to 8).map(_.toLong) ++ (102 to 104).map(_.toLong)).toSet)
  }

  test("languageQualityGate: NULL lang is its own population; approx agrees on-point; p validated") {
    // group sizes of 5 put (n-1)·p on an exact order statistic, where the
    // approx sketch and exact interpolation must return the same element
    val df = ((1 to 5).map(i => (i.toLong, null.asInstanceOf[String], i.toDouble)) ++
      (101 to 105).map(i => (i.toLong, "en", i.toDouble)))
      .toDF("doc_id", "lang", "score")
    val exact = graft.pipeline.DataPrep
      .languageQualityGate(df, "lang", "score", 0.25, exact = true)
      .select("doc_id").as[Long].collect().toSet
    // NULL-lang p25 = 2 → keep 2..5 (not dropped, not mixed into en)
    assert(exact === Set(2L, 3L, 4L, 5L, 102L, 103L, 104L, 105L))
    val approx = graft.pipeline.DataPrep
      .languageQualityGate(df, "lang", "score", 0.25)
      .select("doc_id").as[Long].collect().toSet
    assert(approx === exact)
    intercept[IllegalArgumentException] {
      graft.pipeline.DataPrep.languageQualityGate(df, "lang", "score", 0.0)
    }
    intercept[IllegalArgumentException] {
      graft.pipeline.DataPrep.languageQualityGate(df, "lang", "score", 1.0)
    }
  }

  test("languageBuckets: quartile labels per language, boundaries inclusive-high") {
    // en scores 1..9: p25 = 3, p75 = 7 → tail {1,2}, middle {3..6}, head {7,8,9};
    // fr 101..104 (all above every en score): buckets stay per-language
    val df = ((1 to 9).map(i => (i.toLong, "en", i.toDouble)) ++
      (101 to 104).map(i => (i.toLong, "fr", i.toDouble)))
      .toDF("doc_id", "lang", "score")
    val got = graft.pipeline.DataPrep
      .languageBuckets(df, "lang", "score", exact = true)
      .select("doc_id", "bucket").as[(Long, String)].collect().toMap
    assert((1 to 2).forall(i => got(i.toLong) == "tail"))
    assert((3 to 6).forall(i => got(i.toLong) == "middle"))
    assert((7 to 9).forall(i => got(i.toLong) == "head"))
    // fr p25 = 101.75, p75 = 103.25 → tail {101}, middle {102,103}, head {104}
    assert(got(101L) === "tail" && got(102L) === "middle" &&
      got(103L) === "middle" && got(104L) === "head")
    intercept[IllegalArgumentException] {
      graft.pipeline.DataPrep.languageBuckets(df, "lang", "score", 0.75, 0.25)
    }
  }

  test("languageBuckets: approx agrees on-point; NULL lang is its own population") {
    val df = ((1 to 5).map(i => (i.toLong, null.asInstanceOf[String], i.toDouble)) ++
      (101 to 105).map(i => (i.toLong, "en", i.toDouble)))
      .toDF("doc_id", "lang", "score")
    val exact = graft.pipeline.DataPrep
      .languageBuckets(df, "lang", "score", exact = true)
      .select("doc_id", "bucket").as[(Long, String)].collect().toMap
    // each group 1..5-shaped: p25 = 2, p75 = 4 → tail {1}, middle {2,3}, head {4,5}
    assert(exact(1L) === "tail" && exact(2L) === "middle" &&
      exact(3L) === "middle" && exact(4L) === "head" && exact(5L) === "head")
    assert(exact(101L) === "tail" && exact(105L) === "head")
    val approx = graft.pipeline.DataPrep
      .languageBuckets(df, "lang", "score")
      .select("doc_id", "bucket").as[(Long, String)].collect().toMap
    assert(approx === exact)
  }
}
