package graft.io

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** An `s3a://` filesystem for tests WITHOUT network or the hadoop-aws jar:
  * RawLocalFileSystem with the s3a scheme/authority, so `s3a://bucket/p`
  * resolves to local path `/p`. This is the standard Hadoop trick for
  * pinning scheme transparency — every engine path flows through
  * `Path.getFileSystem(conf)`, so if the cycle works here it works on any
  * `FileSystem` implementation, which is what the reference's MinIO
  * (S3-compatible) inter-stage transport requires
  * (`/root/reference/airflow/dags/tasks/bronze.py:79-82`: bronze→silver→
  * gold hand off via `s3://` objects, credentials/endpoint being config).
  */
class MockS3AFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  import org.apache.hadoop.fs.{FileStatus, Path}
  import org.apache.hadoop.fs.permission.FsPermission

  override def getUri: java.net.URI = java.net.URI.create("s3a://graft-bucket")
  override def getScheme: String = "s3a"

  // RawLocal's DeprecatedRawLocalFileStatus loads permissions lazily via
  // `new java.io.File(path.toUri)`, which rejects non-file schemes; return
  // plain FileStatus with concrete permissions instead (object stores have
  // no POSIX permissions anyway — this matches real S3AFileSystem, which
  // fakes them too).
  private def fix(st: FileStatus): FileStatus =
    new FileStatus(st.getLen, st.isDirectory, st.getReplication,
      st.getBlockSize, st.getModificationTime, st.getAccessTime,
      if (st.isDirectory) FsPermission.getDirDefault else FsPermission.getFileDefault,
      null, null, st.getPath)

  override def getFileStatus(p: Path): FileStatus = fix(super.getFileStatus(p))
  override def listStatus(p: Path): Array[FileStatus] = super.listStatus(p).map(fix)
}

class S3ASchemeSpec extends SparkSpec {
  import spark.implicits._

  private def s3aBase(): String = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.s3a.impl", classOf[MockS3AFileSystem].getName)
    // object stores have no working directory; qualify everything absolute
    val local = scratch("s3a")
    s"s3a://graft-bucket$local"
  }

  test("bronze -> silver -> gold cycle over s3a:// inter-stage paths") {
    val base = s3aBase()
    // raw arrives as strings with the reference's messy shapes (S2 fallback)
    val raw = Seq(
      ("  Open ", "2021-03-05", "Alta", "Norte", "SP"),
      ("Closed", "not-a-date", "Baixa", "Sul", "RS"),
      ("Open", "2020-11-30", "Média", "Norte", "SP"))
      .toDF("status", "data_abertura", "prioridade", "regiao", "uf")

    raw.write.mode("overwrite").parquet(s"$base/bronze")
    val bronze = spark.read.parquet(s"$base/bronze")
    assert(bronze.count() === 3)

    // the engine's own sink (partitioned write) over the s3a scheme
    val silver = bronze.select(
      trim(col("status")).as("status"),
      col("prioridade"),
      year(try_to_timestamp(col("data_abertura"), lit("yyyy-MM-dd"))).as("ano"),
      col("regiao"), col("uf"))
    Sinks.writeParquet(silver, s"$base/silver", partitionBy = Seq("uf"))
    val silverBack = spark.read.parquet(s"$base/silver")
    assert(silverBack.count() === 3)
    assert(silverBack.filter(col("ano").isNull).count() === 1) // coerce-to-null survived the hop

    val gold = silverBack.groupBy("regiao").agg(count(lit(1)).as("n"))
    gold.write.mode("overwrite").parquet(s"$base/gold")
    val goldBack = spark.read.parquet(s"$base/gold").collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    assert(goldBack === Seq(("Norte", 2L), ("Sul", 1L)))

    // partition pruning still reaches the scan through the mock scheme
    val pruned = silverBack.filter(col("uf") === "SP")
    assert(pruned.count() === 2)
  }

  test("upsertParquet (staging + dynamic overwrite + manifest) works on s3a://") {
    val base = s3aBase()
    val dir = s"$base/t"
    Seq((1L, 2010, "a"), (2L, 2011, "b")).toDF("k", "ano", "v")
      .write.partitionBy("ano").parquet(dir)
    Sinks.upsertParquet(spark, dir,
      Seq((1L, 2010, "a2"), (3L, 2012, "c")).toDF("k", "ano", "v"),
      keyCols = Seq("k"), partitionCol = "ano")
    val got = spark.read.parquet(dir).select("k", "ano", "v").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sorted.toSeq
    assert(got === Seq((1L, 2010, "a2"), (2L, 2011, "b"), (3L, 2012, "c")))
  }
}
