package graft.ops

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType
import org.apache.spark.util.sketch.BloomFilter

/** Bloom-filter join pre-filtering — the 100 TB pattern for SELECTIVE joins
  * whose build side is too big to broadcast as rows but whose key SET
  * sketches small: fact rows that cannot match are dropped before the
  * shuffle, so the exchange carries the ~matching slice instead of the
  * table.
  *
  * Built from Spark's own sketch expressions (`BloomFilterAggregate` /
  * `BloomFilterMightContain` — the same pair AQE's runtime row-group
  * filtering injects), wired explicitly so the pattern is usable where the
  * optimizer doesn't inject it. Keys are hashed with xxhash64, matching
  * Spark's injected-filter convention.
  *
  * The sketch is sized to the build side's row count n at a fixed
  * false-positive rate p = 3% (`BloomFilter.create(n)`'s default):
  * m = −n·ln p / (ln 2)² ≈ 7.3 bits per key, so 11,400 keys take 10.4 KB.
  * Size matters beyond memory: the sketch rides in the plan as a binary
  * literal, and Spark hex-formats every literal each time it renders the
  * plan string (every execution start, every AQE stage update), including
  * for every query that reads a cached result of the filtered plan.
  *
  * False positives only (a bloom never drops a real key), so
  * `prefilter(...).join(small, key)` returns EXACTLY `large.join(small,
  * key)` — pinned by OpsSpec.
  */
object BloomJoin {

  private val Fpp = 0.03

  /** Drop `large` rows whose key can't be in `small`'s key set. Counts
    * `small` (an upper bound on its distinct keys) to size the sketch, so
    * pass a cached or cheap frame; an empty `small` keeps no row.
    */
  def prefilter(large: DataFrame, largeKey: Column,
                small: DataFrame, smallKey: Column): DataFrame = {
    val items = small.count()
    if (items == 0) large.filter(lit(false))
    else {
      val agg = GraftColumnBridge.column(
        new BloomFilterAggregate(
          GraftColumnBridge.expression(xxhash64(smallKey)),
          Literal(items), Literal(BloomFilter.optimalNumOfBits(items, Fpp))).toAggregateExpression())
      val bytes = small.select(agg.as("bf")).head().getAs[Array[Byte]](0)
      val might = GraftColumnBridge.column(BloomFilterMightContain(
        Literal.create(bytes, BinaryType),
        GraftColumnBridge.expression(xxhash64(largeKey))))
      large.filter(might)
    }
  }
}
