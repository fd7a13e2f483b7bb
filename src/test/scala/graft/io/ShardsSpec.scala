package graft.io

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins [[Shards]]: shard size budget, consumption order preserved in the
  * written files, manifest content, and the dual-_SUCCESS crash window.
  */
class ShardsSpec extends SparkSpec {
  import spark.implicits._

  // 40 docs of 10 tokens each, already "scheduled" (pos = doc order):
  // budget 20 tokens → seqs of 2 docs; 4 seqs/shard → shards of 8 docs
  private def packedFixture() = {
    val docs = (0L until 40L).map(i => (i, i, 10L)).toDF("doc_id", "pos", "n_tokens")
    graft.ext.Packing.packBinsBy(docs, Seq(col("pos"), col("doc_id")),
        "n_tokens", budget = 20L, numPartitions = 4)
      .withColumn("shard_id", expr("seq_id div 4"))
  }

  test("manifest: spans, counts, budget, and assignment checksum") {
    val packed = packedFixture()
    val root = scratch("shards") + "/ex"
    Shards.write(packed, root, Seq(col("pos"), col("doc_id")))
    val m = Shards.readManifest(spark, root).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(m.size === 5) // 40 docs / 8 per shard
    m.foreach { case (sid, r) =>
      assert(r.getInt(1) === 4, s"shard $sid n_seqs")   // 4 seqs per shard
      assert(r.getInt(2) === 8, s"shard $sid n_docs")
      assert(r.getLong(3) === 80L, s"shard $sid tokens") // size budget holds
      assert(r.getLong(4) === sid * 4 && r.getLong(5) === sid * 4 + 3, "seq span")
      // checksum = sum over docs 8s..8s+7 of d*(d+1)
      val want = (8 * sid until 8 * sid + 8).map(d => d * (d + 1)).sum
      assert(r.getLong(6) === want, s"shard $sid checksum")
    }
  }

  test("order preserved: files of a shard concatenate (in name order) to pos order") {
    val packed = packedFixture()
    val root = scratch("shards-o") + "/ex"
    Shards.write(packed, root, Seq(col("pos"), col("doc_id")))
    (0L until 5L).foreach { sid =>
      val rows = Shards.readShard(spark, root, sid)
        .withColumn("__f", input_file_name())
        .select(col("__f"), col("pos")).collect()
        .map(r => (r.getString(0), r.getLong(1)))
      // read back grouped by file in name order, keeping within-file order
      val inOrder = rows.zipWithIndex
        .sortBy { case ((f, _), idx) => (f, idx) }.map(_._1._2)
      assert(inOrder.toSeq === inOrder.sorted.toSeq, s"shard $sid order")
      assert(inOrder.toSeq === (sid * 8 until sid * 8 + 8).toSeq, s"shard $sid content")
    }
  }

  test("manifest attests to the WRITTEN data files, not the in-memory plan") {
    val packed = packedFixture()
    val root = scratch("shards-a") + "/ex"
    Shards.write(packed, root, Seq(col("pos"), col("doc_id")))
    val shardType = packed.schema("shard_id").dataType
    def fromDisk() = Shards.manifest(spark.read.parquet(s"$root/data")
        .withColumn("shard_id", col("shard_id").cast(shardType)))
      .orderBy("shard_id").collect().toSeq
    val stored = Shards.readManifest(spark, root).orderBy("shard_id").collect().toSeq
    assert(stored === fromDisk()) // checksum attests to readable bytes
    // schema is partition-inference-independent: shard_id keeps its type
    assert(Shards.readManifest(spark, root).schema("shard_id").dataType === shardType)
    // a data file lost after commit makes the attestation visibly stale
    val pf = new java.io.File(s"$root/data/shard_id=0").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    assert(pf.delete())
    assert(fromDisk() !== stored)
  }

  test("validateReadPath: clean export passes; broken name order and lost files are counted") {
    // larger fixture so shards straddle range-partition boundaries →
    // multi-file shard dirs (the case the name-order contract exists for)
    val docs = (0L until 400L).map(i => (i, i, 10L)).toDF("doc_id", "pos", "n_tokens")
    val packed = graft.ext.Packing.packBinsBy(docs, Seq(col("pos"), col("doc_id")),
        "n_tokens", budget = 20L, numPartitions = 8)
      .withColumn("shard_id", expr("seq_id div 4"))
    val root = scratch("shards-v") + "/ex"
    // AQE coalesces the tiny range shuffle to one partition (one file per
    // shard); hold it off so shards straddle task boundaries as at scale
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try Shards.write(packed, root, Seq(col("pos"), col("doc_id")))
    finally spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    val ok = Shards.validateReadPath(spark, root).head()
    assert(ok.getLong(0) === 50L, "n_shards")
    assert(ok.getLong(2) === 0L, "order_violations on a clean export")
    assert(ok.getLong(3) === 0L, "manifest_mismatches on a clean export")
    // break file NAME order in a multi-file shard: the lexicographically
    // first file renamed to sort last makes the concatenation go backwards
    val multi = (0L until 50L).map(s => new java.io.File(s"$root/data/shard_id=$s"))
      .find(_.listFiles().count(_.getName.endsWith(".parquet")) >= 2)
    assert(multi.nonEmpty, "fixture must produce a multi-file shard")
    val files = multi.get.listFiles().filter(_.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    val renamed = new java.io.File(multi.get, "part-zzz-reordered.parquet")
    assert(files.head.renameTo(renamed))
    val broken = Shards.validateReadPath(spark, root).head()
    assert(broken.getLong(2) >= 1L, "reordered file must violate name order")
    assert(renamed.renameTo(files.head)) // restore
    // a data file lost after commit shows up as a manifest mismatch
    assert(files.head.delete())
    val lost = Shards.validateReadPath(spark, root).head()
    assert(lost.getLong(3) >= 1L, "lost file must mismatch the manifest")
  }

  test("crash window: missing either _SUCCESS marker refuses the read") {
    val packed = packedFixture()
    val root = scratch("shards-c") + "/ex"
    Shards.write(packed, root, Seq(col("pos"), col("doc_id")))
    // crash BETWEEN the data job and the manifest job
    val mMark = new java.io.File(s"$root/manifest/_SUCCESS")
    assert(mMark.exists()); assert(mMark.delete())
    intercept[IllegalArgumentException] { Shards.readManifest(spark, root) }
    intercept[IllegalArgumentException] { Shards.readShard(spark, root, 0L) }
    // crash DURING the data job (no data marker at all)
    Shards.write(packed, root, Seq(col("pos"), col("doc_id"))) // restore
    val dMark = new java.io.File(s"$root/data/_SUCCESS")
    assert(dMark.exists()); assert(dMark.delete())
    intercept[IllegalArgumentException] { Shards.readManifest(spark, root) }
  }
}
