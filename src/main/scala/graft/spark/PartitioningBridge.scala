package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning

/** Bridge for iterative-loop state: re-declare the TRUE hash partitioning
  * of an eagerly `localCheckpoint`ed DataFrame.
  *
  * Why it exists: `Dataset.localCheckpoint` in Spark 4 records
  * `UnknownPartitioning` in the resulting `LogicalRDD` leaf whenever the
  * checkpointed plan ran under AQE (the adaptive plan's partitioning isn't
  * propagated), so a loop that checkpoints its big loop-invariant relation
  * — e.g. the edge table of a message-passing round, laid out by
  * `repartition(n, key)` moments earlier — pays a FULL re-exchange of that
  * relation in every round even though the rows physically sit in exactly
  * the hash layout the join needs. Persisting instead of checkpointing
  * keeps the partitioning visible but embeds the whole cached plan in
  * every round's query (driver re-planning cost per round) — measured 2×
  * slower per round at bench scale (OPTIMIZATION_r16.md, change 1).
  *
  * CALLER CONTRACT (unchecked beyond partition count): the frame MUST be
  * an eager localCheckpoint of a plan whose final operator was
  * `repartition(n, keys…)` with the SAME n and keys — a user-pinned
  * partition count, which AQE never coalesces, so the physical layout is
  * exactly `HashPartitioning(keys, n)`. Declaring a partitioning the rows
  * do not have makes downstream joins silently wrong; this helper is
  * deliberately private to the engine and used only via
  * `GraftPartitioningBridge.checkpointHashPartitioned`.
  */
object GraftPartitioningBridge {

  /** `repartition(n, keys) → localCheckpoint(eager) → declare hash(keys, n)`
    * — the safe composed form: layout and declaration cannot drift because
    * both come from the same arguments. `n` defaults to the session's
    * shuffle-partition count (scale-adaptive via conf, never a constant).
    */
  def checkpointHashPartitioned(df: Dataset[Row], keys: Seq[String],
                                numPartitions: Int = -1): Dataset[Row] = {
    val spark = df.sparkSession
    val n =
      if (numPartitions > 0) numPartitions
      else spark.conf.get("spark.sql.shuffle.partitions").toInt
    val ck = df.repartition(n, keys.map(functions.col): _*).localCheckpoint(true)
    declareHashPartitioning(ck, keys, n)
  }

  private def declareHashPartitioning(df: Dataset[Row], keys: Seq[String],
                                      n: Int): Dataset[Row] = {
    val lr = df.queryExecution.analyzed match {
      case l: execution.LogicalRDD => l
      case other => throw new IllegalArgumentException(
        s"declareHashPartitioning: expected a checkpointed LogicalRDD leaf, got ${other.nodeName}")
    }
    require(lr.rdd.getNumPartitions == n,
      s"declareHashPartitioning: checkpoint has ${lr.rdd.getNumPartitions} partitions, declared $n")
    val attrs = keys.map(k => lr.output.find(_.name == k).getOrElse(
      throw new IllegalArgumentException(
        s"declareHashPartitioning: no column '$k' in ${lr.output.map(_.name).mkString(", ")}")))
    val relit = execution.LogicalRDD(
      lr.output, lr.rdd, HashPartitioning(attrs, n), lr.outputOrdering,
      lr.isStreaming, lr.stream)(spark(df), None, None)
    classic.Dataset.ofRows(spark(df), relit)
  }

  private def spark(df: Dataset[Row]): classic.SparkSession =
    df.sparkSession.asInstanceOf[classic.SparkSession]
}
