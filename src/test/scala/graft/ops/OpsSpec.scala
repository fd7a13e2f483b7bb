package graft.ops

import graft.SparkSpec
import graft.functions.GraftFunctions
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Unit tests for the §2 operator set, pinning the reference-parity gotchas
  * called out in SURVEY.md §5: pandas title vs initcap (F4), coerce-to-null
  * date parse (F7), null-propagating concat (F5), fill/replace order.
  */
class OpsSpec extends SparkSpec {
  import spark.implicits._

  test("P1 normalizeColumnNames lowercases and underscores (accents kept)") {
    val df = Seq((1, "x")).toDF("Data de Celebração", "Região")
    assert(Normalize.normalizeColumnNames(df).columns.toSeq ===
      Seq("data_de_celebração", "região"))
    // idempotent
    assert(Normalize.normalizeName(Normalize.normalizeName("A B")) === "a_b")
  }

  test("F4 pandas_title capitalizes after ANY non-letter, unlike initcap") {
    val df = Seq("d'água do MAR", "x-ray tests", "", "abc").toDF("s")
    val got = df.select(
      GraftFunctions.pandas_title($"s").as("pt"),
      initcap($"s").as("ic")).collect().map(r => (r.getString(0), r.getString(1)))
    assert(got(0) === ("D'Água Do Mar", "D'água Do Mar")) // the divergence
    assert(got(1) === ("X-Ray Tests", "X-ray Tests"))
    assert(got(2) === ("", ""))
    assert(got(3) === ("Abc", "Abc"))
  }

  test("F4 pandas_title matches CPython on CASED boundaries, expansions, final sigma") {
    import graft.functions.PandasTitle
    import org.apache.spark.unsafe.types.UTF8String
    def t(s: String) = PandasTitle.title(UTF8String.fromString(s)).toString
    // every expectation below is the verbatim CPython 3 str.title() output
    assert(t("中国a") === "中国A")      // ideographs are not cased -> new word
    assert(t("ʻokina") === "ʻOkina")   // modifier letter is not cased
    assert(t("ß x") === "Ss X")        // one-to-many titlecase expansion
    assert(t("ﬁne") === "Fine")        // ligature expands
    assert(t("ǆungla") === "ǅungla")   // single-codepoint titlecase form
    assert(t("ΟΣ") === "Ος")           // Final_Sigma rule
    assert(t("ΟΣ a") === "Ος A")       // sigma final before non-cased too
    assert(t("aİb") === "Ai̇b")         // İ lowercases to i + combining dot
    assert(t("a1b c") === "A1B C")     // digits are not cased -> new word
  }

  test("F4 pandas_title propagates null and registers as SQL function") {
    GraftFunctions.register(spark)
    val r = spark.sql("SELECT pandas_title(NULL), pandas_title('a.b c')").head()
    assert(r.isNullAt(0) && r.getString(1) === "A.B C")
  }

  test("F7 parseDate coerces malformed to NULL (pandas errors='coerce')") {
    val df = Seq("31/12/2020", "bogus", "32/01/2020", null).toDF("d")
    val got = df.select(Dates.parseDate($"d").as("p")).collect()
    assert(got(0).getDate(0).toString === "2020-12-31")
    assert(got(1).isNullAt(0) && got(2).isNullAt(0) && got(3).isNullAt(0))
  }

  test("F9+F6 fillAndReplace: NULL and '-' both become 'não informado'") {
    val df = Seq(Some("ok"), None, Some("-")).toDF("c")
    val got = Nulls.fillAndReplace(df, Seq("c")).as[String].collect().toSeq
    assert(got.sorted === Seq("não informado", "não informado", "ok"))
  }

  test("F5/D1 hierarchy concat is null-propagating (pandas + with NaN)") {
    val df = Seq(("a", "b", "c"), ("a", null, "c")).toDF("x", "y", "z")
    val got = df.select(Derive.hierarchy(Seq($"x", $"y", $"z")).as("h")).collect()
    assert(got(0).getString(0) === "a > b > c")
    assert(got(1).isNullAt(0)) // concat_ws would have yielded "a > c"
  }

  test("F3 truncate + F2 trim") {
    val long = "x" * 300
    val df = Seq(s"  $long  ").toDF("s")
    val got = Normalize.truncateCols(Normalize.trimCols(df, Seq("s")), Seq("s"))
      .as[String].head()
    assert(got.length === 255 && got.forall(_ == 'x'))
  }

  test("P5 dropDuplicates on all columns is exact and idempotent") {
    val df = Seq(("a", 1), ("a", 1), ("b", 2)).toDF("k", "v")
    val once = Dedup.distinctAll(df)
    assert(once.count() === 2 && Dedup.distinctAll(once).count() === 2)
  }

  test("salting spreads a constant-value hot key across salts") {
    import org.apache.spark.sql.functions.{col, countDistinct, lit}
    val salts = 8
    // the adversarial skew shape: ONE key, ONE value on every row — a salt
    // derived from the value alone collapses to a single reducer
    val hot = spark.range(0, 4000).repartition(8)
      .select(lit("hotkey").as("k"), lit(java.math.BigDecimal.valueOf(9.99)).as("v"))
    val nSalts = hot
      .select(graft.ops.Salting.saltExpr(col("v"), salts).as("s"))
      .agg(countDistinct(col("s"))).head().getLong(0)
    assert(nSalts >= salts / 2, s"hot key collapsed onto $nSalts salt(s)")
    // and the aggregate is still exact
    val sum = graft.ops.Salting.saltedSum(hot, "k", col("v"), "total", salts)
      .head().getDecimal(1)
    val expected = new java.math.BigDecimal("9.99")
      .multiply(java.math.BigDecimal.valueOf(4000)).setScale(sum.scale)
    assert(sum === expected)
  }

  test("bloom prefilter: join output unchanged, non-matching rows dropped pre-shuffle") {
    import org.apache.spark.sql.functions.col
    val large = spark.range(0, 50000).toDF("k")
    val small = spark.range(0, 50000).filter(col("id") % 100 === 0).toDF("k") // 1% match
    // sized from small's 500 keys at 3%: ~500 matches + ~1,500 false positives
    val filtered = graft.ops.BloomJoin.prefilter(large, col("k"), small, col("k"))
    val survivors = filtered.count()
    assert(survivors >= 500 && survivors < 5000, // all matches kept, ~fpp extra
      s"bloom kept $survivors of 50000")
    val got = filtered.join(small, "k").orderBy("k").collect().map(_.getLong(0))
    val plain = large.join(small, "k").orderBy("k").collect().map(_.getLong(0))
    assert(got.toSeq === plain.toSeq) // exactness: false positives only
  }

  test("hash sampling: deterministic, rate-accurate, split is a partition") {
    import org.apache.spark.sql.functions.col
    val df = spark.range(0, 10000).toDF("id")
    val s1 = graft.ops.Sampling.byHash(df, col("id"), 0.2).collect().map(_.getLong(0)).toSet
    val s2 = graft.ops.Sampling.byHash(df, col("id"), 0.2).collect().map(_.getLong(0)).toSet
    assert(s1 === s2) // rerun -> identical sample (no rand())
    assert(math.abs(s1.size - 2000) < 200, s"rate off: ${s1.size}")
    // different salt -> a different (but still deterministic) sample
    val s3 = graft.ops.Sampling.byHash(df, col("id"), 0.2, salt = 1L).collect().map(_.getLong(0)).toSet
    assert(s3 !== s1)

    val split = graft.ops.Sampling.splitByHash(df, col("id"),
      Seq(0.8, 0.1, 0.1), Seq("train", "val", "test"))
    val byName = split.groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byName.keySet === Set("train", "val", "test")) // total partition, no null split
    assert(byName.values.sum === 10000L)
    assert(math.abs(byName("train") - 8000) < 400, byName.toString)
    // modulo sampling is exact by construction
    assert(graft.ops.Sampling.byModulo(df, col("id"), 10).count() === 1000L)
  }

  test("integerZFlags: flags the outlier of a raw series, nothing else, any key/val names") {
    import org.apache.spark.sql.functions.col
    // no perturbation baked in: the detector takes the series as-is
    val series = ((0L until 50L).map(h => (h, 100L)) :+ (50L, 1000L))
      .toDF("bucket", "cnt")
    val got = graft.ops.Anomaly.integerZFlags(series, "bucket", "cnt", z = 3)
      .select("bucket", "is_anomaly")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got(50L) === 1)
    assert(got.filter(_._1 != 50L).values.forall(_ == 0))
    assert(got.size === 51)
  }

  test("splitByMd5: total partition, reproducible, bands match the hand-computed hex rule") {
    import org.apache.spark.sql.functions.{col, md5, concat, lit, substring}
    val df = spark.range(0, 10000).toDF("id")
    val split = graft.ops.Sampling.splitByMd5(df, col("id"),
      Seq(0.8, 0.1, 0.1), Seq("train", "val", "test"))
    val byName = split.groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byName.keySet === Set("train", "val", "test"))
    assert(byName.values.sum === 10000L)
    assert(math.abs(byName("train") - 8000) < 400, byName.toString)
    // the band rule IS the documented hex compare: recompute independently
    val expect = df
      .withColumn("u", substring(md5(concat(lit("split:"), col("id").cast("string"))), 1, 4))
      .collect().map { r =>
        val u = r.getString(1)
        r.getLong(0) -> (if (u < "cccc") "train" else if (u < "e666") "val" else "test")
      }.toMap
    val got = split.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === expect)
  }

  test("allocateQuotas: Hamilton largest-remainder, exact total, deterministic ties") {
    // weights (3,3,1), T=10: floors (4,4,1) sum 9; largest remainder is c
    // (10·1 mod 7 = 3 vs 2) -> quotas (4,4,2), summing EXACTLY to 10
    val counts = Seq(("a", 3L), ("b", 3L), ("c", 1L)).toDF("k", "w")
    val got = graft.ops.Sampling.allocateQuotas(counts, "k", "w", total = 10L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("a" -> 4L, "b" -> 4L, "c" -> 2L))
    // equal weights, leftover ties broken by key ascending
    val eq = Seq(("x", 1L), ("y", 1L), ("z", 1L)).toDF("k", "w")
    val got2 = graft.ops.Sampling.allocateQuotas(eq, "k", "w", total = 5L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got2 === Map("x" -> 2L, "y" -> 2L, "z" -> 1L))
    // property: random weights always sum exactly to T
    val rnd = new scala.util.Random(5)
    val rand = (0 until 17).map(i => (s"k$i", 1L + rnd.nextInt(1000).toLong))
      .toDF("k", "w")
    val tot = graft.ops.Sampling.allocateQuotas(rand, "k", "w", total = 12345L)
      .agg(org.apache.spark.sql.functions.sum("quota")).head.getLong(0)
    assert(tot === 12345L)
    // zero-weight keys get quota 0 (floor and remainder both 0... unless
    // a leftover unit lands on them LAST — remainder 0 ranks below any
    // positive remainder, so only when leftover >= #positive-rem keys)
    val withZero = Seq(("a", 0L), ("b", 5L)).toDF("k", "w")
    val got3 = graft.ops.Sampling.allocateQuotas(withZero, "k", "w", total = 7L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got3 === Map("a" -> 0L, "b" -> 7L))
  }

  test("interleaveSchedule: quota-proportional selection, even integer spread, deterministic") {
    import org.apache.spark.sql.functions.col
    // 6 'a' + 3 'b', T=6: Hamilton quotas (4, 2) with zero leftover;
    // positions (r-1)*6 div q -> a: 0,1,3,4  b: 0,3 — b's picks spread
    // across the schedule instead of clumping at the end
    val df = ((1L to 6L).map((_, "a")) ++ (11L to 13L).map((_, "b")))
      .toDF("doc_id", "dom")
    val got = graft.ops.Sampling.interleaveSchedule(df, "dom", total = 6L)
    val byDom = got.groupBy("dom").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byDom === Map("a" -> 4L, "b" -> 2L))
    val pos = got.select("dom", "pos").collect()
      .groupBy(_.getString(0)).map { case (d, rs) =>
        d -> rs.map(_.getLong(1)).sorted.toSeq }
    assert(pos("a") === Seq(0L, 1L, 3L, 4L))
    assert(pos("b") === Seq(0L, 3L))
    // deterministic across reruns (selection AND order keys)
    val again = graft.ops.Sampling.interleaveSchedule(df, "dom", total = 6L)
      .select("doc_id", "mix_rank", "pos").collect().map(_.toSeq).toSet
    assert(again === got.select("doc_id", "mix_rank", "pos")
      .collect().map(_.toSeq).toSet)
    intercept[IllegalArgumentException] {
      graft.ops.Sampling.interleaveSchedule(df, "dom", total = 0L)
    }
  }

  test("temperatureMixSqrt: sqrt-flattened per-domain counts, deterministic, dominant domain tamed") {
    import org.apache.spark.sql.functions.col
    // 900 'big' + 100 'small' + 25 'rare': raw shares 88/10/2 percent;
    // sqrt weights 30/10/5 -> targets of 450: 300/100/50 (capped at c_d)
    val rows = (1L to 900L).map((_, "big")) ++ (901L to 1000L).map((_, "small")) ++
      (1001L to 1025L).map((_, "rare"))
    val df = rows.toDF("doc_id", "dom")
    val got = graft.ops.Sampling.temperatureMixSqrt(df, "dom", total = 450L)
    val byDom = got.groupBy("dom").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byDom === Map("big" -> 300L, "small" -> 100L, "rare" -> 25L), byDom.toString)
    // deterministic rerun; rank is 1..n_d within each domain
    val a = got.select("doc_id").collect().map(_.getLong(0)).toSet
    val b = graft.ops.Sampling.temperatureMixSqrt(df, "dom", total = 450L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a === b)
    val ranks = got.filter(col("dom") === "small")
      .select("mix_rank").collect().map(_.getLong(0)).sorted.toSeq
    assert(ranks === (1L to 100L).toSeq)
    intercept[IllegalArgumentException] {
      graft.ops.Sampling.temperatureMixSqrt(df, "dom", total = 0L)
    }
  }

  test("range join: bucketized equi-join == naive non-equi join, boundaries exact") {
    import org.apache.spark.sql.functions.col
    // intervals: multi-bucket span, sub-bucket, overlapping, empty
    val intervals = Seq(
      (0L, 100L, 350L),  // spans buckets 1..3 at width 100
      (1L, 120L, 130L),  // inside one bucket
      (2L, 300L, 500L),  // overlaps interval 0
      (3L, 400L, 400L))  // empty (half-open)
      .toDF("window_id", "start_sec", "end_sec")
    // points: on starts, just-before-ends, far outside
    val points = Seq(100L, 349L, 350L, 120L, 129L, 130L, 299L, 300L, 499L, 400L, 999L)
      .toDF("sec")
    val got = graft.ops.RangeJoin
      .pointInInterval(points, "sec", intervals, "start_sec", "end_sec", bucketSec = 100L)
      .select("sec", "window_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val naive = points.join(intervals,
        col("sec") >= col("start_sec") && col("sec") < col("end_sec"))
      .select("sec", "window_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(got.toSeq === naive.toSeq)
    assert(got.contains((300L, 0L)) && got.contains((300L, 2L))) // overlap: both match
    assert(!got.exists(_._1 == 350L) || !got.filter(_._1 == 350L).map(_._2).contains(0L)) // end exclusive
    assert(!got.exists(_._2 == 3L)) // empty interval matches nothing
  }

  test("range join: an INVERTED interval neither matches nor explodes buckets") {
    import org.apache.spark.sql.functions.col
    // end << start: sequence(start/b, (end-1)/b) would DESCEND into
    // millions of spurious bucket rows without the clamp
    val intervals = Seq((0L, 100L, 350L), (1L, 500000000L, 0L))
      .toDF("window_id", "start_sec", "end_sec")
    val points = Seq(100L, 200L, 349L).toDF("sec")
    val joined = graft.ops.RangeJoin
      .pointInInterval(points, "sec", intervals, "start_sec", "end_sec", bucketSec = 100L)
    assert(joined.select("window_id").distinct().collect().map(_.getLong(0)).toSeq === Seq(0L))
    // blow-up guard: the exploded bucket row count stays interval-bounded
    val ib = intervals.withColumn("__n",
      org.apache.spark.sql.functions.expr(
        "size(sequence(floor(start_sec / 100), greatest(floor(start_sec / 100), floor((end_sec - 1) / 100))))"))
    assert(ib.agg(org.apache.spark.sql.functions.sum(col("__n"))).head().getLong(0) < 10L)
  }

  test("interval overlap: tiled join == naive theta join; touching is NOT overlap") {
    import org.apache.spark.sql.functions.col
    val left = Seq(
      (0L, 100L, 350L),   // spans buckets 1..3 at width 100
      (1L, 120L, 130L),   // sub-bucket
      (2L, 340L, 600L),   // shares buckets 3..3 with 0, more with right
      (3L, 700L, 700L))   // empty
      .toDF("a_id", "a_start", "a_end")
    val right = Seq(
      (10L, 0L, 1000L),   // covers everything — shares MANY buckets per pair
      (11L, 350L, 400L),  // touches left 0 (a_end == 350): NOT an overlap
      (12L, 125L, 126L),  // inside left 1
      (13L, 650L, 700L),  // touches empty left 3
      (14L, 2000L, 1L))   // inverted: matches nothing, one tile only
      .toDF("b_id", "b_start", "b_end")
    val got = graft.ops.RangeJoin
      .intervalOverlap(left, "a_start", "a_end", right, "b_start", "b_end", bucketSec = 100L)
      .select("a_id", "b_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val naive = left.crossJoin(right)
      .filter(org.apache.spark.sql.functions.greatest(col("a_start"), col("b_start")) <
        org.apache.spark.sql.functions.least(col("a_end"), col("b_end")))
      .select("a_id", "b_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got === naive)
    // multi-bucket-shared pair appears ONCE (the dedup-free tile rule)
    assert(got.count(_ == (0L, 10L)) === 1)
    assert(!got.contains((0L, 11L)))                  // touching excluded
    assert(got.contains((1L, 12L)))                   // containment is overlap
    assert(!got.exists(p => p._1 == 3L || p._2 == 14L)) // empty + inverted match nothing
  }

  test("as-of join: latest right row at/before left time, per key") {
    val left = Seq((1L, 100L, "e1"), (1L, 205L, "e2"), (2L, 50L, "e3"))
      .toDF("k", "t", "ev")
    val right = Seq((1L, 100L, 10L), (1L, 100L, 11L), (1L, 200L, 12L), (3L, 1L, 13L))
      .toDF("k", "t", "payload")
    val got = AsofJoin.asofBackward(
      left, right.withColumnRenamed("t", "rt"),
      key = "k", leftTime = $"t", rightTime = $"rt",
      payload = Seq("payload"), rightTiebreak = $"payload")
      .select("ev", "payload").collect().map(r =>
        r.getString(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(got("e1") === 11L) // equal-time match allowed; max tiebreak wins
    assert(got("e2") === 12L) // latest earlier right row
    assert(got("e3") === -1L) // key 2 has no right rows -> null
  }

  test("saltedJoin equals the plain inner join; the hot key spreads across salts") {
    // key 1 is hot (every 5th row); dim has a DUPLICATE key row (7) so the
    // replicate-once-per-salt rule is exercised on multi-row matches too
    val fact = (0 until 500).map(i =>
      (i.toLong, if (i % 5 == 0) 1L else (i % 50).toLong)).toDF("row_id", "k")
    val dim = ((0L until 50L).map(k => (k, s"d$k")) :+ (7L, "d7b")).toDF("k", "payload")
    val got = graft.ops.Salting.saltedJoin(fact, dim, "k", saltBy = col("row_id"), salts = 4)
      .select("k", "row_id", "payload").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted
    val plain = fact.join(dim, Seq("k"))
      .select("k", "row_id", "payload").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted
    assert(got.toSeq === plain.toSeq)
    // the hot key's fact rows actually fan out over multiple salt values
    val hotSalts = fact.filter(col("k") === 1L)
      .select(pmod(xxhash64(col("row_id")), lit(4L))).distinct().count()
    assert(hotSalts > 1)
  }

  test("sampleKPerGroup: exactly k per big group, whole small groups, window-equal") {
    val df = (0 until 300).map(i => (i.toLong, s"g${i % 3}")).toDF("doc_id", "grp")
      .union(Seq((1000L, "tiny"), (1001L, "tiny")).toDF("doc_id", "grp"))
    val got = graft.ops.Sampling.sampleKPerGroup(df, "grp", "doc_id", k = 5)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val byGrp = got.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(byGrp("g0").size === 5 && byGrp("g1").size === 5 && byGrp("g2").size === 5)
    assert(byGrp("tiny") === Set(1000L, 1001L)) // <= k survives whole
    // equals the window form it replaces (same total order)
    import org.apache.spark.sql.expressions.Window
    val rank = conv(substring(md5(concat(lit("res:"),
      col("doc_id").cast("string"))), 1, 13), 16, 10).cast("long")
    val win = df.withColumn("rk", row_number().over(
        Window.partitionBy(col("grp")).orderBy(rank, col("doc_id"))))
      .filter(col("rk") <= 5)
      .collect().map(r => (r.getString(1), r.getLong(0))).toSet
    assert(got.toSet === win)
    // run-stable
    val again = graft.ops.Sampling.sampleKPerGroup(df, "grp", "doc_id", k = 5)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(again === got.toSet)
  }
}
