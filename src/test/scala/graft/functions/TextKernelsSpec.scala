package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The native run-length kernel must be value-identical to the SQL
  * higher-order fold it replaced (x_text_repetition's oracle hash is the
  * cross-engine pin; this is the in-engine one, including edge shapes the
  * fixture may not contain).
  */
class TextKernelsSpec extends SparkSpec {
  import spark.implicits._

  /** The replaced CodegenFallback form, verbatim — the reference semantics. */
  private def sqlFold(gs: org.apache.spark.sql.Column) =
    aggregate(
      array_sort(gs),
      struct(lit("").as("prev"), lit(0).as("run"), lit(0).as("best")),
      (acc, x) => {
        val run = when(x.eqNullSafe(acc.getField("prev")), acc.getField("run") + 1)
          .otherwise(lit(1))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))

  test("top_run_length == the SQL fold on varied arrays (ties, singletons, repeats)") {
    val rows = Seq(
      Seq("b", "a", "b", "c", "b"),        // clear winner 3
      Seq("x"),                            // singleton
      Seq("a", "b"),                       // all distinct -> 1
      Seq("t", "t", "t", "t"),             // all equal
      Seq("a", "a", "b", "b"),             // tie -> 2
      (1 to 50).map(i => s"w${i % 7}"),    // modular repeats
      Seq.empty[String]                    // empty -> 0
    ).toDF("gs")
    val got = rows.select(
      GraftFunctions.top_run_length(col("gs")).as("k"),
      sqlFold(col("gs")).as("ref")).collect()
    got.foreach(r => assert(r.getInt(0) === r.getInt(1), r.toString))
    assert(got.map(_.getInt(0)).toSeq === Seq(3, 1, 1, 4, 2, 8, 0))
  }

  test("top_run_length: null elements group together; null array propagates") {
    val df = Seq(
      (1L, Seq[String]("a", null, null, "a", null)),
      (2L, null)
    ).toDF("id", "gs")
    val got = df.select(col("id"), GraftFunctions.top_run_length(col("gs")).as("k"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap
    assert(got(1L) === Some(3)) // three nulls beat two a's
    assert(got(2L) === None)
  }

  test("ws_tokens == filter(split(\\s+)) on adversarial whitespace") {
    val rows = Seq(
      " \ta  b\n\nc  ", "a b c", "\t \r\n ", "", "one",
      " verticaltab ", "precomposed  café\tend", "a\r\nb"
    ).toDF("t")
    val got = rows.select(
      GraftFunctions.ws_tokens(col("t")).as("k"),
      filter(split(col("t"), "\\s+"), w => length(w) > lit(0)).as("ref"))
      .as[(Seq[String], Seq[String])].collect()
    got.foreach { case (k, ref) => assert(k === ref) }
  }

  test("word_ngrams == the transform/slice/array_join form (null tokens, short arrays)") {
    val rows = Seq(
      Seq("a", "b", "c", "d"),
      Seq("a", "b"),               // == n: one window
      Seq("only"),                 // < n: empty
      Seq.empty[String],
      Seq("x", null, "z", "w"),    // null token skipped by the join
      Seq("", "a", "")             // empty-string tokens are PRESERVED
    ).toDF("ws")
    def ref(n: Int) = when(size(col("ws")) >= n,
      transform(sequence(lit(1), size(col("ws")) - lit(n - 1)),
        i => array_join(slice(col("ws"), i, lit(n)), " ")))
      .otherwise(array().cast("array<string>"))
    for (n <- Seq(1, 2, 3)) {
      val got = rows.select(
        GraftFunctions.word_ngrams(col("ws"), n).as("k"), ref(n).as("r"))
        .as[(Seq[String], Seq[String])].collect()
      got.foreach { case (k, r) => assert(k === r, s"n=$n") }
    }
    // texts through the MinHash twin's tokenizer, split(lower(text), ' '):
    // its shingle sets (MinHashDedup.shinglesOf) == the distinct
    // transform/slice form they replaced, kept to >= k words as it was
    val texts = Seq(
      "  leading and trailing  ", "doubled  spaces   inside", "exactly three words",
      "two words", "UPPER Case MiXeD words", "Ünïcödé ÀND naïve café words", "",
      "a  b")
      .toDF("t").withColumn("ws", split(lower(col("t")), " "))
    for (k <- Seq(2, 3)) {
      val lambda = when(size(col("ws")) >= k, array_distinct(
        transform(sequence(lit(0), size(col("ws")) - lit(k)),
          i => concat_ws(" ", slice(col("ws"), i + 1, lit(k))))))
        .otherwise(array().cast("array<string>"))
      val got = texts.select(graft.ext.MinHashDedup.shinglesOf(col("t"), k).as("k"),
        lambda.as("r"), GraftFunctions.word_ngrams(col("ws"), k).as("g"), ref(k).as("gr"))
        .as[(Seq[String], Seq[String], Seq[String], Seq[String])].collect()
      got.foreach { case (kk, r, g, gr) =>
        assert(kk === r, s"k=$k")
        assert(g === gr, s"k=$k")
      }
      assert(got.exists(_._1.nonEmpty) && got.exists(_._1.isEmpty)) // both branches ran
    }
  }

  test("word_ngrams: NULL token array propagates to NULL (not [] like the old when-form)") {
    // the one deliberate divergence from the replaced SQL form — standard
    // expression null semantics; unobservable in the registry because NULL
    // and [] vanish identically under explode and the size(...) guards
    val df = Seq((1L, Seq("a", "b")), (2L, null)).toDF("id", "ws")
    val got = df.select(col("id"), GraftFunctions.word_ngrams(col("ws"), 2).as("g"))
      .collect().map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(got === Map(1L -> false, 2L -> true))
  }

  test("top_run_length stays inside whole-stage codegen (no fallback)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(GraftFunctions.top_run_length(split(col("text"), " ")).as("k"))
    docs.collect()
    val p = docs.queryExecution.executedPlan.toString
    // `*(n)` prefixes a node INSIDE a codegen span in the simple plan
    // string — the projection computing the kernel must carry it
    assert("""\*\(\d+\) Project \[top_run_length""".r.findFirstIn(p).isDefined, p.take(2000))
    // the old fold's marker: an interpreted `aggregate(...)` projection
    assert(!p.contains("aggregate("), p.take(2000))
  }
}
