package graft

import org.apache.spark.sql.internal.SQLConf

class GraftSessionSpec extends SparkSpec {

  test("the session keeps Spark's lz4 codec and 64 MB advisory partition size") {
    // unset means Spark's own default, lz4
    assert(spark.sparkContext.getConf.get("spark.io.compression.codec", "lz4") === "lz4")
    assert(spark.sessionState.conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES) === 67108864L)
  }
}
