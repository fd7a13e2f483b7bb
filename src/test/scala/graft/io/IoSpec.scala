package graft.io

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.{Files, Paths}

class SourcesSpec extends SparkSpec {

  test("S1/S2 CSV read with enforced schema (bad cells -> null, not crash)") {
    val dir = scratch("csv")
    Files.writeString(Paths.get(s"$dir/in.csv"),
      "parceiro,ano\nFrança,2010\nONU,not-a-year\n")
    val schema = StructType(Seq(
      StructField("parceiro", StringType), StructField("ano", IntegerType)))
    val df = Sources.readCsv(spark, s"$dir/in.csv", schema)
    val rows = df.orderBy("parceiro").collect()
    assert(df.schema === schema)
    assert(rows(0).getString(0) === "França" && rows(0).getInt(1) === 2010)
    assert(rows(1).getString(0) === "ONU" && rows(1).isNullAt(1)) // coerced
  }

  test("JSONL read: schema enforced, malformed lines quarantined not fatal") {
    val dir = scratch("jsonl")
    Files.writeString(Paths.get(s"$dir/docs.jsonl"),
      """{"doc_id": 1, "text": "hello world"}
        |{"doc_id": 2, "text": "second doc"}
        |{"doc_id": broken json here
        |""".stripMargin)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    // Spark refuses to filter on ONLY the corrupt column straight off raw
    // files (the parse would be unverifiable); cache materializes the parse
    val df = Sources.readJsonl(spark, s"$dir/docs.jsonl", schema).cache()
    val good = df.filter(col("_corrupt").isNull)
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted
    assert(good.toSeq === Seq((1L, "hello world"), (2L, "second doc")))
    assert(df.filter(col("_corrupt").isNotNull).count() === 1) // quarantined
    df.unpersist()
  }

  test("schema evolution: merged read surfaces columns newer files added") {
    val dir = scratch("evolve") + "/t"
    import spark.implicits._
    Seq((1L, "a")).toDF("id", "v").write.parquet(s"$dir/part1")
    Seq((2L, "b", 9.5)).toDF("id", "v", "score").write.parquet(s"$dir/part2")
    val df = Sources.readParquetEvolved(spark, s"$dir/*")
    assert(df.columns.sorted.toSeq === Seq("id", "score", "v"))
    val rows = df.orderBy("id").collect()
    assert(rows(0).isNullAt(rows(0).fieldIndex("score"))) // old file -> null
    assert(rows(1).getDouble(rows(1).fieldIndex("score")) === 9.5)
  }

  test("S4 existence check + strict raise") {
    assert(Sources.exists(spark, "/root/testdata/sf0.001/orders.parquet"))
    assert(!Sources.exists(spark, "/root/testdata/sf0.001/nope.parquet"))
    intercept[java.io.FileNotFoundException] {
      Sources.requireExists(spark, "/no/such/key")
    }
  }

  test("ORC round trip: content identical, filter pushed to the ORC scan") {
    val dir = scratch("orc") + "/orders"
    val src = graft.Tables.orders(spark, "/root/testdata/sf0.001")
    Sources.writeOrc(src, dir)
    val back = Sources.readOrc(spark, dir)
    assert(back.count() === src.count())
    assert(back.schema === src.schema)
    val filtered = back.filter(col("o_orderkey") === 1L).select("o_orderkey", "o_orderstatus")
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("o_orderkey"), plan.take(2000))
    assert(filtered.count() === src.filter(col("o_orderkey") === 1L).count())
  }
}

class SinksSpec2 extends SparkSpec {
  import spark.implicits._

  test("K1 partitioned write: layout exists and partition pruning kicks in") {
    val out = scratch("part") + "/t"
    val df = Seq(("a", 2010, 1.0), ("b", 2011, 2.0), ("c", 2011, 3.0)).toDF("k", "ano", "v")
    Sinks.writeParquet(df, out, partitionBy = Seq("ano"))
    assert(Files.exists(Paths.get(s"$out/ano=2010")) &&
           Files.exists(Paths.get(s"$out/ano=2011")))
    val pruned = spark.read.parquet(out).filter($"ano" === 2011)
    assert(pruned.count() === 2)
    // the partition filter must appear as PartitionFilters (pruned scan),
    // not a post-scan Filter over all files
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(ano"), plan)
  }

  test("K1 codec choice: zstd write round-trips and marks its files") {
    val out = scratch("codec") + "/t"
    val df = Seq((1, "a"), (2, "b")).toDF("k", "v")
    Sinks.writeParquet(df, out, codec = "zstd")
    val files = new java.io.File(out).listFiles().map(_.getName)
    assert(files.exists(_.endsWith(".zstd.parquet")), files.mkString(","))
    assert(spark.read.parquet(out).count() === 2)
  }

  test("bloom-filtered write: filter present on the enabled column only; reads intact") {
    val out = scratch("bloom") + "/t"
    // unordered high-cardinality hashes — the case where min/max stats
    // cannot skip anything and the bloom filter is the only point-lookup
    // pruning available
    val df = (0 until 5000).map { i =>
      (i.toLong, ((i * 0x9E3779B97F4A7C15L) ^ (i << 7)).toString, i % 10)
    }.toDF("id", "h", "b")
    Sinks.writeBloomFiltered(df.repartition(1), out, Seq("h"), ndv = 5000)
    // footer: the h column carries a bloom filter, id does not
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val file = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val rd = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file.toString),
      spark.sparkContext.hadoopConfiguration))
    try {
      val cols = rd.getFooter.getBlocks.get(0).getColumns
      val byName = (0 until cols.size).map(i => cols.get(i))
        .map(c => c.getPath.toDotString -> c).toMap
      assert(byName("h").getBloomFilterOffset > 0, "bloom filter missing on h")
      assert(byName("id").getBloomFilterOffset <= 0, "unexpected bloom filter on id")
      // the filter itself answers membership: a present value hits, and
      // most absent probes miss (false positives allowed, negatives not)
      val bfr = rd.getBloomFilterDataReader(rd.getFooter.getBlocks.get(0))
      val bf = bfr.readBloomFilter(byName("h"))
      import org.apache.parquet.io.api.Binary
      def mightContain(s: String) =
        bf.findHash(bf.hash(Binary.fromString(s)))
      val present = (0 until 100).map(i =>
        ((i * 0x9E3779B97F4A7C15L) ^ (i << 7)).toString)
      assert(present.forall(mightContain), "bloom filter dropped a present value")
      val absentHits = (0 until 1000).count(i => mightContain(s"absent-$i"))
      assert(absentHits < 100, s"bloom filter too dense: $absentHits/1000 false positives")
    } finally rd.close()
    // data integrity + point-lookup correctness through the Spark reader
    val back = spark.read.parquet(out)
    assert(back.count() === 5000)
    val probe = ((7 * 0x9E3779B97F4A7C15L) ^ (7 << 7)).toString
    assert(back.filter($"h" === probe).select("id").as[Long].collect().toSeq === Seq(7L))
  }

  test("z-order layout: both dimensions' per-file spans shrink vs a one-key sort") {
    val base = scratch("zorder")
    import spark.implicits._
    // two independent uniform dims — the adversarial case for one-key sorts
    val df = (0 until 20000).map { i =>
      (i.toLong, ((i * 7919) % 20000).toLong, s"p$i")
    }.toDF("x", "y", "payload")
    Sinks.writeSorted(df, s"$base/by_x", "x", numFiles = 16)
    Sinks.writeZOrdered(df, s"$base/z", Seq("x", "y"), numFiles = 16)
    def meanSpan(dir: String, c: String): Double = {
      val spans = spark.read.parquet(dir)
        .groupBy(input_file_name()).agg((max(col(c)) - min(col(c))).as("span"))
        .select("span").as[Long].collect()
      spans.sum.toDouble / spans.length
    }
    // sorted-by-x: x spans tiny, y spans ~full range. z-order: BOTH bounded.
    val zx = meanSpan(s"$base/z", "x"); val zy = meanSpan(s"$base/z", "y")
    val sx = meanSpan(s"$base/by_x", "x"); val sy = meanSpan(s"$base/by_x", "y")
    assert(sy > 15000.0, s"one-key sort should leave y unclustered, got $sy")
    assert(zy < sy / 2, s"z-order must cluster y too: z=$zy vs sorted=$sy")
    assert(zx < 15000.0, s"z-order must keep x partially clustered, got $zx (sorted $sx)")
    // round trip intact
    assert(spark.read.parquet(s"$base/z").count() === 20000)
    assert(spark.read.parquet(s"$base/z").columns.sorted.toSeq === Seq("payload", "x", "y"))
  }

  test("range-sorted layout: output files cover disjoint key ranges") {
    val dir = scratch("sorted") + "/orders"
    Sinks.writeSorted(graft.Tables.orders(spark, "/root/testdata/sf0.001"),
      dir, "o_orderkey", numFiles = 4)
    val ranges = spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg(min("o_orderkey").as("lo"), max("o_orderkey").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(ranges.length === 4)
    ranges.sliding(2).foreach { case Array((_, hi), (lo, _)) =>
      assert(hi < lo, s"file ranges overlap: $ranges") // disjoint -> skippable
    }
  }

  test("parquet upsert rewrites ONLY partitions containing updated keys") {
    val dir = scratch("lake") + "/t"
    Seq((1L, 2010, "a"), (2L, 2010, "b"), (3L, 2011, "c"), (4L, 2012, "d"))
      .toDF("k", "ano", "v")
      .write.partitionBy("ano").parquet(dir)
    def files(p: String) = new java.io.File(s"$dir/ano=$p").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toSeq.sorted
    val before2011 = files("2011")
    val before2012 = files("2012")

    // update k=1 (2010), insert k=9 into 2010 — 2011/2012 must be untouched
    val updates = Seq((1L, 2010, "a2"), (9L, 2010, "new")).toDF("k", "ano", "v")
    Sinks.upsertParquet(spark, dir, updates, keyCols = Seq("k"), partitionCol = "ano")

    val got = spark.read.parquet(dir).select("k", "ano", "v").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sorted.toSeq
    assert(got === Seq((1L, 2010, "a2"), (2L, 2010, "b"), (3L, 2011, "c"),
      (4L, 2012, "d"), (9L, 2010, "new")))
    assert(files("2011") === before2011, "untouched partition was rewritten")
    assert(files("2012") === before2012, "untouched partition was rewritten")

    // staging dir cleaned up
    assert(!new java.io.File(s"$dir.graft-upsert-staging").exists())

    // a PARTITION-MOVING update: k=3 moves 2011 -> 2012; the old 2011 row
    // must disappear (old partition rewrites), 2010 untouched this time
    val before2010 = files("2010")
    val move = Seq((3L, 2012, "c-moved")).toDF("k", "ano", "v")
    Sinks.upsertParquet(spark, dir, move, keyCols = Seq("k"), partitionCol = "ano")
    val after = spark.read.parquet(dir).select("k", "ano", "v").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sorted.toSeq
    assert(after === Seq((1L, 2010, "a2"), (2L, 2010, "b"), (3L, 2012, "c-moved"),
      (4L, 2012, "d"), (9L, 2010, "new")))
    assert(files("2010") === before2010, "untouched partition was rewritten")
  }

  test("upsert into a NULL partition keeps its unchanged rows (null-safe joins)") {
    // the writer materializes NULL partition values as
    // __HIVE_DEFAULT_PARTITION__; plain-equality joins never match NULL, so
    // a non-null-safe merge would rewrite that partition with ONLY the
    // update rows, silently dropping the rest
    val dir = scratch("lake-null") + "/t"
    Seq((1L, Some(2010), "a"), (2L, None, "b"), (3L, None, "c"))
      .toDF("k", "ano", "v")
      .write.partitionBy("ano").parquet(dir)
    // update k=2 (lives in the null partition), leave k=3 alone
    val updates = Seq((2L, None: Option[Int], "b2")).toDF("k", "ano", "v")
    Sinks.upsertParquet(spark, dir, updates, keyCols = Seq("k"), partitionCol = "ano")
    val got = spark.read.parquet(dir).select("k", "ano", "v").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1 else r.getInt(1), r.getString(2)))
      .sorted.toSeq
    assert(got === Seq((1L, 2010, "a"), (2L, -1, "b2"), (3L, -1, "c")))
    // and a NULL KEY row in the target must also survive an unrelated upsert
    val dir2 = scratch("lake-nullkey") + "/t"
    Seq((Some(1L), 2010, "a"), (None: Option[Long], 2010, "nk")).toDF("k", "ano", "v")
      .write.partitionBy("ano").parquet(dir2)
    Sinks.upsertParquet(spark, dir2, Seq((Some(1L), 2010, "a2")).toDF("k", "ano", "v"),
      keyCols = Seq("k"), partitionCol = "ano")
    val got2 = spark.read.parquet(dir2).select("v").as[String].collect().sorted.toSeq
    assert(got2 === Seq("a2", "nk"))
  }

  test("upsert past the affected-partition cap fails loudly and leaves the target intact") {
    val dir = scratch("lake-cap") + "/t"
    // 20 partitions, one row each — partitioned on a (deliberately) fine column
    (0L until 20L).map(i => (i, i.toInt, s"v$i")).toDF("k", "ano", "v")
      .write.partitionBy("ano").parquet(dir)
    val updates = (0L until 20L).map(i => (i, i.toInt, s"u$i")).toDF("k", "ano", "v")
    val e = intercept[IllegalStateException] {
      Sinks.upsertParquet(spark, dir, updates, keyCols = Seq("k"),
        partitionCol = "ano", maxAffectedPartitions = 5)
    }
    assert(e.getMessage.contains("maxAffectedPartitions"), e.getMessage)
    // cap fires BEFORE anything destructive: target unchanged, staging cleaned
    val got = spark.read.parquet(dir).select("k", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(got === (0L until 20L).map(i => (i, s"v$i")))
    assert(!new java.io.File(s"$dir.graft-upsert-staging").exists())
    // same update goes through with an explicit higher cap
    Sinks.upsertParquet(spark, dir, updates, keyCols = Seq("k"),
      partitionCol = "ano", maxAffectedPartitions = 20)
    val after = spark.read.parquet(dir).select("k", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(after === (0L until 20L).map(i => (i, s"u$i")))
  }

  test("compaction: many small files -> few, exact count, content identical") {
    val dir = scratch("compact") + "/t"
    (0L until 1000L).toDF("id").repartition(50).write.parquet(dir)
    def nFiles = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(nFiles === 50)
    Sinks.compact(spark, dir, rowsPerFile = 500)
    assert(nFiles === 2) // rename-swap keeps the repartition count exact
    assert(!new java.io.File(s"$dir.graft-compact-staging").exists())
    val back = spark.read.parquet(dir).as[Long].collect().sorted
    assert(back.toSeq === (0L until 1000L))
    intercept[IllegalArgumentException] { Sinks.compact(spark, dir, 0) }
  }

  test("compaction preserves a Hive-partitioned layout and evolved columns") {
    val dir = scratch("compact2") + "/t"
    // partitioned table whose ano=2011 files predate the 'extra' column
    Seq((1L, 2010, "x")).toDF("k", "ano", "extra")
      .write.partitionBy("ano").parquet(dir)
    Seq((2L, 2011)).toDF("k", "ano")
      .write.mode("append").partitionBy("ano").parquet(dir)
    Sinks.compact(spark, dir, rowsPerFile = 100, partitionBy = Seq("ano"))
    assert(new java.io.File(dir).listFiles().map(_.getName).count(_.startsWith("ano=")) === 2)
    val back = spark.read.option("mergeSchema", "true").parquet(dir)
      .select("k", "ano", "extra").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getInt(1), Option(r.getString(2)).getOrElse("-")))
    assert(back.toSeq === Seq((1L, 2010, "x"), (2L, 2011, "-"))) // column survived
  }

  test("bucketed tables join without a shuffle (the co-located-join layout)") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_customer")
      graft.Tables.orders(spark, "/root/testdata/sf0.001")
        .write.bucketBy(4, "o_custkey").sortBy("o_custkey")
        .mode("overwrite").saveAsTable("b_orders")
      graft.Tables.customer(spark, "/root/testdata/sf0.001")
        .write.bucketBy(4, "c_custkey").sortBy("c_custkey")
        .mode("overwrite").saveAsTable("b_customer")
      val joined = spark.table("b_orders")
        .join(spark.table("b_customer"), col("o_custkey") === col("c_custkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle:\n$plan")
      assert(joined.count() > 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
}
