package graft.io

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins the bucketed-layout contract (SCALE.md §Joins): two tables
  * hash-bucketed on the join key with the same bucket count join with NO
  * Exchange on either side — the scan's output partitioning satisfies the
  * join's distribution requirement directly. This is the layout decision
  * that removes the dominant recurring fact⋈fact shuffle at 100 TB.
  */
class BucketedJoinSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("bucketed-bucketed join plans with zero Exchange; result equals the plain join") {
    val orders = graft.Tables.orders(spark, dir)
    val lineitem = graft.Tables.lineitem(spark, dir)
    val root = scratch("bktspec")
    Sinks.writeBucketed(orders, "bktspec_orders", s"$root/o",
      "o_orderkey", nBuckets = 4, sortCols = Seq("o_orderkey"))
    Sinks.writeBucketed(lineitem, "bktspec_lineitem", s"$root/l",
      "l_orderkey", nBuckets = 4, sortCols = Seq("l_orderkey"))
    try {
      // hint("merge"): the pinned plan must be the sort-merge join
      // bucketing co-locates, not a size-triggered broadcast
      val joined = spark.table("bktspec_lineitem")
        .join(spark.table("bktspec_orders").hint("merge"),
          col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(2000))
      assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n${plan.take(2000)}")

      // and the layout is invisible in the result
      val viaBuckets = joined.groupBy(col("o_orderstatus")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val plain = lineitem
        .join(orders, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(viaBuckets === plain)
    } finally {
      spark.sql("DROP TABLE IF EXISTS bktspec_orders")
      spark.sql("DROP TABLE IF EXISTS bktspec_lineitem")
    }
  }

  test("bucketed-vs-unbucketed join shuffles ONLY the unbucketed side") {
    val orders = graft.Tables.orders(spark, dir)
    val root = scratch("bktspec2")
    Sinks.writeBucketed(orders, "bktspec2_orders", s"$root/o",
      "o_orderkey", nBuckets = 4)
    try {
      val lineitem = graft.Tables.lineitem(spark, dir)
      val joined = lineitem
        .join(spark.table("bktspec2_orders").hint("merge"),
          col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(2000))
      // exactly one exchange: the lineitem side re-partitions to the
      // orders bucketing; the bucketed side reads in place
      val nExchanges = "(?i)exchange hashpartitioning".r
        .findAllIn(plan).length
      assert(nExchanges === 1, s"want 1 shuffle (unbucketed side only):\n${plan.take(2000)}")
    } finally {
      spark.sql("DROP TABLE IF EXISTS bktspec2_orders")
    }
  }
}
