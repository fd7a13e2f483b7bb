package graft.io

import graft.SparkSpec
import org.apache.spark.sql.functions._

class JsonlSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "srcA", "en", "plain text"),
    (2L, "srcB", "de", "quotes \" and \\ backslash and\ttab"),
    (3L, "srcA", "ja", "unicode: 日本語 😀"),
    (4L, "srcB", null.asInstanceOf[String], null.asInstanceOf[String]))
    .toDF("doc_id", "source", "lang", "text")

  test("write → read (FAILFAST) round-trips escaping, unicode and NULLs") {
    val dir = scratch("jsonl") + "/x"
    Jsonl.write(docs, dir)
    val back = Jsonl.read(spark, dir)
      .select($"doc_id", $"source", $"lang", $"text")
      .as[(Long, String, String, String)].collect().sortBy(_._1).toSeq
    assert(back === docs.as[(Long, String, String, String)]
      .collect().sortBy(_._1).toSeq)
  }

  test("readQuarantined routes malformed lines to _corrupt_record, keeps good rows") {
    val dir = scratch("jsonl-q") + "/x"
    Jsonl.write(docs.filter($"doc_id" <= 2), dir)
    // plant a foreign malformed line beside the good files
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "part-junk.json"),
      "{\"doc_id\": 99, \"source\": \"bad".getBytes("UTF-8"))
    val all = Jsonl.readQuarantined(spark, dir).cache()
    try {
      assert(all.filter(col("_corrupt_record").isNotNull).count() === 1)
      val good = all.filter(col("_corrupt_record").isNull)
      assert(good.count() === 2)
      assert(good.select($"doc_id").as[Long].collect().sorted.toSeq === Seq(1L, 2L))
      // strict mode refuses the same feed loudly
      val e = intercept[org.apache.spark.SparkException] {
        Jsonl.read(spark, dir).count()
      }
      assert(e.getMessage != null)
    } finally { all.unpersist(); () }
  }
}
