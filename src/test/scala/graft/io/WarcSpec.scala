package graft.io

import graft.SparkSpec

class WarcSpec extends SparkSpec {
  import spark.implicits._

  private def record(t: String, uri: String, payload: String): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    Warc.writeRecord(bos, t, uri, "<urn:test:1>", payload.getBytes("UTF-8"))
    bos.toByteArray
  }

  test("writeRecord -> parseStream recovers type, uri, length, payload; payloads may contain blank lines") {
    val tricky = "line1\r\n\r\nline2\r\n\r\n" // embedded record-terminator bytes
    val bos = new java.io.ByteArrayOutputStream()
    Warc.writeRecord(bos, "warcinfo", "", "<urn:test:info>", "sw: x".getBytes("UTF-8"))
    Warc.writeRecord(bos, "response", "https://e/1", "<urn:test:1>", tricky.getBytes("UTF-8"))
    Warc.writeRecord(bos, "response", "https://e/2", "<urn:test:2>", "ok".getBytes("UTF-8"))
    val recs = Warc.parseStream(bos.toByteArray).toList
    assert(recs.map(_.warc_type) === List("warcinfo", "response", "response"))
    assert(recs(1).target_uri === "https://e/1")
    assert(new String(recs(1).payload, "UTF-8") === tricky,
      "Content-Length delimiting must survive embedded CRLF CRLF")
    assert(recs(1).content_length === tricky.getBytes("UTF-8").length.toLong)
  }

  test("parseStream rejects malformed streams loudly") {
    intercept[IllegalArgumentException](
      Warc.parseStream("HTTP/1.1 200 OK\r\n\r\n".getBytes).toList)
    // truncated payload
    val full = record("response", "https://e/1", "hello world")
    intercept[IllegalArgumentException](
      Warc.parseStream(java.util.Arrays.copyOf(full, full.length - 6)).toList)
    // missing Content-Length
    val noLen = ("WARC/1.0\r\nWARC-Type: response\r\n\r\nxx\r\n\r\n").getBytes("US-ASCII")
    intercept[IllegalArgumentException](Warc.parseStream(noLen).toList)
  }

  test("archive write/read round trip through real files and the binaryFile source") {
    val docs = Seq((1L, "alpha"), (2L, "beta\r\n\r\ngamma"), (3L, "π-text"))
      .toDF("doc_id", "text").repartition(2)
    val dir = scratch("warc-test")
    Warc.writeArchives(docs, dir)
    val back = Warc.readArchives(spark, dir)
      .as[(String, Long, String)].collect().sortBy(_._1)
    assert(back.length === 3)
    assert(back.map(_._1).toSeq ===
      Seq("https://corpus.example/doc/1", "https://corpus.example/doc/2",
        "https://corpus.example/doc/3"))
    assert(back(1)._3 === "beta\r\n\r\ngamma")
    assert(back(2)._2 === "π-text".getBytes("UTF-8").length.toLong)
  }

  test("roundTrip emits one row per document with exact byte/char accounting") {
    val docs = Seq((7L, "héllo", 5L), (8L, "", 0L), (9L, "a b", 3L))
      .toDF("doc_id", "text", "n_chars")
    val out = Warc.roundTrip(spark, docs)
      .as[(Long, Long, Int)].collect().sortBy(_._1)
    assert(out.toSeq === Seq((7L, 6L, 5), (8L, 0L, 0), (9L, 3L, 3)))
  }
}
