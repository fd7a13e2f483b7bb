package graft

import org.apache.spark.sql.functions._

/** Skew handling, demonstrated rather than claimed (SCALE.md): AQE's
  * skew-join split on a hot-key sort-merge join, the salted aggregation's
  * spread of a constant-valued hot key, and compaction's per-partition file
  * budgeting on a skewed Hive layout.
  */
class SkewSpec extends SparkSpec {
  import spark.implicits._

  private def withConfs(pairs: (String, String)*)(body: => Unit): Unit = {
    val old = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try { pairs.foreach { case (k, v) => spark.conf.set(k, v) }; body }
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("AQE splits the hot partition of a skewed join (hot key = 60% of rows)") {
    // thresholds lowered so the fixture's ~3 MB hot partition counts as
    // skewed next to its ~KB siblings; the production config keeps defaults
    withConfs(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // force sort-merge
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "262144",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "131072") {
      val fact = spark.range(100000).select(
        when($"id" % 10 < 6, 0L).otherwise(pmod(hash($"id"), lit(1000)).cast("long")).as("k"),
        $"id".as("v"), lit("x" * 40).as("pad"))
      val dim = spark.range(1001).select(($"id" - 1).as("k"), concat(lit("d"), $"id").as("dv"))
      val j = fact.join(dim, "k")
      // collect() runs j's OWN QueryExecution (count() would build a new
      // one and leave j's AQE plan unfinalized)
      assert(j.collect().length === 100000)
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        "AQE did not mark the join skewed:\n" + plan.take(4000))
    }
  }

  test("salted aggregation spreads a constant-valued hot key over many salts, sum exact") {
    // hot key: 50k rows ALL with the same value — hashing the value alone
    // would collapse onto one salt; the spark_partition_id component spreads
    val df = (Seq.fill(50000)(("hot", 10L)) ++ (1 to 500).map(i => (s"c$i", i.toLong)))
      .toDF("key", "amount").repartition(16)
    val salts = 8
    val spread = df.filter($"key" === "hot")
      .withColumn("__salt", graft.ops.Salting.saltExpr($"amount".cast("decimal(28,10)"), salts))
      .select(countDistinct($"__salt")).as[Long].head()
    assert(spread >= salts / 2, s"hot key landed on only $spread salts")
    val salted = graft.ops.Salting
      .saltedSum(df, "key", $"amount".cast("decimal(28,10)"), "total", salts)
    val direct = df.groupBy($"key").agg(sum($"amount".cast("decimal(28,10)")).as("total"))
    assert(salted.join(direct, Seq("key", "total"), "full")
      .filter($"key".isNull || $"total".isNull).count() === 0)
  }

  test("compact budgets files per partition: a skewed partition no longer collapses to one file") {
    val dir = scratch("skewcompact") + "/t"
    val rows = (1 to 10000).map(i => (i, "hot", s"v$i")) ++ (1 to 10).map(i => (-i, "cold", "w"))
    rows.toDF("k", "p", "v").repartition(20)
      .write.partitionBy("p").parquet(dir)
    graft.io.Sinks.compact(spark, dir, rowsPerFile = 2500, partitionBy = Seq("p"))
    def files(sub: String) =
      new java.io.File(s"$dir/p=$sub").listFiles().count(_.getName.endsWith(".parquet"))
    assert(files("cold") === 1)
    assert(files("hot") >= 2, "hot partition collapsed into a single file")
    val back = spark.read.parquet(dir)
    assert(back.count() === rows.size.toLong)
  }
}
