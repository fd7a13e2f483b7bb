package graft.streaming

import graft.SparkSpec
import graft.streaming.EventStreams._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import java.sql.Timestamp

class EventStreamsSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  test("scd2Stream: closed runs emitted on state change == batch type2's closed rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventRow]
    val q = scd2Stream(input.toDS())
      .writeStream.format("memory").queryName("scd2_test")
      .outputMode(OutputMode.Append).start()
    try {
      // batch 1: user 7 A A B -> run A[.. :00, .. :20) closes when B arrives
      input.addData(
        EventRow(1, ts("2024-01-01 10:00:00"), 7, "A", 1.0),
        EventRow(2, ts("2024-01-01 10:00:10"), 7, "A", 1.0),
        EventRow(3, ts("2024-01-01 10:00:20"), 7, "B", 1.0))
      q.processAllAvailable()
      // batch 2: state carries across batches — B closes on the next A;
      // a late event behind the frontier is dropped, not a retro-split
      input.addData(
        EventRow(4, ts("2024-01-01 10:01:00"), 7, "A", 1.0),
        EventRow(0, ts("2024-01-01 10:00:05"), 7, "Z", 1.0)) // late: dropped
      q.processAllAvailable()
      val got = spark.table("scd2_test").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._3).toSeq
      val base = ts("2024-01-01 10:00:00").getTime / 1000
      assert(got === Seq(
        (7L, "A", base, base + 20),
        (7L, "B", base + 20, base + 60)))
      // batch equivalence: the same events through ops.Scd.type2 yield the
      // same CLOSED intervals (the open A run exists only in batch output)
      val batch = graft.ops.Scd.type2(
          Seq((7L, base, 1L, "A"), (7L, base + 10, 2L, "A"),
            (7L, base + 20, 3L, "B"), (7L, base + 60, 4L, "A"))
            .toDF("user_id", "sec", "event_id", "event_type"),
          "user_id", "event_type",
          Seq(org.apache.spark.sql.functions.col("sec"),
            org.apache.spark.sql.functions.col("event_id")),
          org.apache.spark.sql.functions.col("sec"))
        .filter("valid_to IS NOT NULL")
        .as[(Long, String, Long, Long, Int)].collect()
        .map(r => (r._1, r._2, r._3, r._4)).sortBy(_._3).toSeq
      assert(batch === got)
    } finally q.stop()
  }

  test("watermarked hourly counts over a memory stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventRow]
    val q = hourlyCounts(input.toDF())
      .writeStream.format("memory").queryName("hourly_test")
      .outputMode(OutputMode.Update).start()
    try {
      input.addData(
        EventRow(1, ts("2024-01-01 10:05:00"), 7, "click", 1.0),
        EventRow(2, ts("2024-01-01 10:55:00"), 7, "click", 2.0),
        EventRow(3, ts("2024-01-01 11:01:00"), 8, "view", 5.0))
      q.processAllAvailable()
      val got = spark.table("hourly_test")
        .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2)))
      assert(got.toSet === Set(
        ("2024-01-01 10:00:00.0", "click", 2L),
        ("2024-01-01 11:00:00.0", "view", 1L)))
    } finally q.stop()
  }

  test("stateful sessionization carries state across triggers") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventRow]
    val q = sessionize(input.toDS())
      .writeStream.format("memory").queryName("sessions_test")
      .outputMode(OutputMode.Update).start()
    try {
      // trigger 1: two events 10s apart -> 1 session
      input.addData(
        EventRow(1, ts("2024-01-01 10:00:00"), 7, "click", 1.0),
        EventRow(2, ts("2024-01-01 10:00:10"), 7, "click", 1.0))
      q.processAllAvailable()
      // trigger 2: event 2h later -> state remembered, second session opens
      input.addData(EventRow(3, ts("2024-01-01 12:30:00"), 7, "click", 1.0))
      q.processAllAvailable()
      val updates = spark.table("sessions_test")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(updates.contains((7L, 1L, 2L))) // after trigger 1
      assert(updates.contains((7L, 2L, 3L))) // after trigger 2: new session, 3 events
    } finally q.stop()
  }

  test("sessionize: a late event never rewinds the session clock") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventRow]
    val q = sessionize(input.toDS())
      .writeStream.format("memory").queryName("late_test")
      .outputMode(OutputMode.Update).start()
    try {
      input.addData(
        EventRow(1, ts("2024-01-01 10:00:00"), 7, "click", 1.0),
        EventRow(2, ts("2024-01-01 10:20:00"), 7, "click", 1.0))
      q.processAllAvailable()
      // late event 30 min BEFORE the clock: in-gap, must not rewind it
      input.addData(EventRow(3, ts("2024-01-01 09:50:00"), 7, "click", 1.0))
      q.processAllAvailable()
      // 10:40 is within 30 min of the true last event (10:20): same session
      input.addData(EventRow(4, ts("2024-01-01 10:40:00"), 7, "click", 1.0))
      q.processAllAvailable()
      val last = spark.table("late_test")
        .collect().map(r => (r.getLong(1), r.getLong(2))).maxBy(_._2)
      assert(last === ((1L, 4L))) // still ONE session over 4 events
    } finally q.stop()
  }

  test("streaming dedup drops within-watermark duplicates across triggers") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventRow]
    val q = dedupStream(input.toDF())
      .writeStream.format("memory").queryName("dedup_test")
      .outputMode(OutputMode.Append).start()
    try {
      // trigger 1: ids 1,2 plus an in-batch duplicate of 1
      input.addData(
        EventRow(1, ts("2024-01-01 10:00:00"), 7, "click", 1.0),
        EventRow(1, ts("2024-01-01 10:00:05"), 7, "click", 1.0),
        EventRow(2, ts("2024-01-01 10:01:00"), 8, "view", 2.0))
      q.processAllAvailable()
      // trigger 2: id 1 again (cross-trigger dup, within watermark) + new id 3
      input.addData(
        EventRow(1, ts("2024-01-01 10:30:00"), 7, "click", 1.0),
        EventRow(3, ts("2024-01-01 10:31:00"), 9, "click", 3.0))
      q.processAllAvailable()
      val ids = spark.table("dedup_test").collect().map(_.getLong(0)).sorted
      assert(ids.toSeq === Seq(1L, 2L, 3L)) // each id exactly once
    } finally q.stop()
  }

  test("stateful dedup runs on the RocksDB state store (the 100 TB state backend)") {
    // the default HDFSBackedStateStore holds all state on the JVM heap —
    // fine locally, a hard wall at large key cardinality. RocksDB ships in
    // Spark core and spills to native memory + disk; this pins that our
    // stateful operators run unchanged on it (provider is read per query
    // from session conf at stream start).
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val old = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[EventRow]
    val q = dedupStream(input.toDF())
      .writeStream.format("memory").queryName("dedup_rocks")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        EventRow(1, ts("2024-01-01 10:00:00"), 7, "click", 1.0),
        EventRow(2, ts("2024-01-01 10:01:00"), 8, "view", 2.0))
      q.processAllAvailable()
      input.addData( // cross-trigger duplicate must hit RocksDB state
        EventRow(1, ts("2024-01-01 10:30:00"), 7, "click", 1.0),
        EventRow(3, ts("2024-01-01 10:31:00"), 9, "click", 3.0))
      q.processAllAvailable()
      val ids = spark.table("dedup_rocks").collect().map(_.getLong(0)).sorted
      assert(ids.toSeq === Seq(1L, 2L, 3L))
      assert(q.lastProgress.stateOperators(0).customMetrics
        .containsKey("rocksdbGetCount"), "query did not actually use RocksDB")
    } finally {
      q.stop()
      old match { case Some(v) => spark.conf.set(key, v); case None => spark.conf.unset(key) }
    }
  }

  test("append-mode windowed counts emit only when the watermark closes a window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventRow]
    val q = hourlyCounts(input.toDF())
      .writeStream.format("memory").queryName("hourly_append")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(EventRow(1, ts("2024-01-01 10:05:00"), 7, "click", 1.0))
      q.processAllAvailable()
      // window still open (watermark = max ts - 2h) -> nothing emitted
      assert(spark.table("hourly_append").count() === 0)
      // an event 4h later pushes the watermark past the 10:00 window
      input.addData(EventRow(2, ts("2024-01-01 14:00:00"), 7, "click", 1.0))
      q.processAllAvailable()
      val got = spark.table("hourly_append")
        .collect().map(r => (r.getTimestamp(0).toString, r.getLong(2)))
      assert(got.toSeq === Seq(("2024-01-01 10:00:00.0", 1L))) // closed window only
    } finally q.stop()
  }

  test("session_window boundary: an exactly-gap pair MERGES, gap+1s splits") {
    // Pins the inclusive-touch merge rule the e6 oracle mirrors with its
    // strict `gap > 1800` island condition — caught live by an
    // exactly-1800 s pair in the sf0.1 fixture (round 4): [0, 1800) and
    // [1800, 3600) windows touch and Spark merges them.
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, count, lit, session_window, timestamp_seconds}
    val df = Seq((1L, 0L), (1L, 1800L), (2L, 0L), (2L, 1801L))
      .toDF("uid", "sec")
      .select(col("uid"), timestamp_seconds(col("sec")).as("ts"))
    val got = df.groupBy(session_window(col("ts"), "30 minutes"), col("uid"))
      .agg(count(lit(1)).as("n"))
      .select("uid", "n").as[(Long, Long)].collect().sorted.toSeq
    assert(got === Seq((1L, 2L), (2L, 1L), (2L, 1L)))
  }

  test("session_window stream merges gap<30min events; emits when watermark closes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventRow]
    val q = sessionWindows(input.toDF())
      .writeStream.format("memory").queryName("sw_test")
      .outputMode(OutputMode.Append).start()
    try {
      // user 7: two events 10 min apart (one session), then one 40 min
      // later (second session); user 8: one event
      input.addData(
        EventRow(1, ts("2024-01-01 10:00:00"), 7, "click", 1.0),
        EventRow(2, ts("2024-01-01 10:10:00"), 7, "view", 1.0),
        EventRow(3, ts("2024-01-01 10:50:00"), 7, "click", 1.0),
        EventRow(4, ts("2024-01-01 10:05:00"), 8, "view", 1.0))
      q.processAllAvailable()
      // advance the watermark far past every session end so all close
      input.addData(EventRow(99, ts("2024-01-01 20:00:00"), 9, "click", 1.0))
      q.processAllAvailable()
      val got = spark.table("sw_test")
        .select($"user_id", $"n_events").as[(Long, Long)].collect().sorted.toSeq
      assert(got === Seq((7L, 1L), (7L, 2L), (8L, 1L)))
    } finally q.stop()
  }

  test("stream-stream interval join matches same-user events within the window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[EventRow]
    val views = MemoryStream[EventRow]
    val q = correlate(clicks.toDF(), views.toDF(), windowSec = 1800)
      .writeStream.format("memory").queryName("corr_test")
      .outputMode(OutputMode.Append).start()
    try {
      views.addData(
        EventRow(100, ts("2024-01-01 10:00:00"), 7, "view", 1.0),  // 20 min before click
        EventRow(101, ts("2024-01-01 08:00:00"), 7, "view", 1.0),  // outside 30-min window
        EventRow(102, ts("2024-01-01 10:10:00"), 8, "view", 1.0))  // other user
      clicks.addData(EventRow(200, ts("2024-01-01 10:20:00"), 7, "click", 1.0))
      q.processAllAvailable()
      val got = spark.table("corr_test")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === Set((200L, 100L))) // in-window same-user pair only
    } finally q.stop()
  }

  test("incremental batch: Trigger.AvailableNow file stream == batch result") {
    // the SURVEY §7.5 upgrade path: same declarative plan, incremental runs
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.functions._
    // the file stream source wants a directory: stage the parquet in one
    val dir = java.nio.file.Paths.get(scratch("stream-in"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/documents.parquet"),
      dir.resolve("part-0.parquet"))
    val batch = spark.read.parquet(dir.toString)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val stream = spark.readStream
      .schema(spark.read.parquet(dir.toString).schema)
      .parquet(dir.toString)
      .groupBy(col("lang")).count()
    val q = stream.writeStream.format("memory").queryName("avail_now")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    try {
      q.awaitTermination(60000)
      val got = spark.table("avail_now").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got === batch)
    } finally q.stop()
  }

  test("sessionize agrees with the batch oracle query on batch data") {
    import spark.implicits._
    // batch mode: state starts empty, whole group in one call
    val events = Seq(
      EventRow(1, ts("2024-01-01 10:00:00"), 1, "c", 0),
      EventRow(2, ts("2024-01-01 10:10:00"), 1, "c", 0),
      EventRow(3, ts("2024-01-01 11:00:00"), 1, "c", 0), // 50min gap -> new session
      EventRow(4, ts("2024-01-01 10:00:00"), 2, "c", 0)).toDS()
    val got = sessionize(events).collect().map(u => u.user_id -> u.n_sessions).toMap
    assert(got === Map(1L -> 2L, 2L -> 1L))
  }
}
