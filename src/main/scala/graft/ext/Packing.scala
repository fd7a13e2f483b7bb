package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Materialize

/** Sequence packing — the training-data step after cleaning/dedup: assign
  * documents (in a fixed, deterministic order) to consecutive
  * fixed-token-budget training sequences. The packing rule is
  * contiguous-fill: a document's sequence id is `tokensBefore / budget`,
  * where `tokensBefore` is the running token total of all earlier docs —
  * deterministic, order-stable, and exactly reproducible in SQL (the
  * oracle is a plain `SUM OVER (ORDER BY id)` window).
  *
  * The interesting part is the RUNNING TOTAL at scale. The naive form —
  * `sum(v).over(Window.orderBy(id))` with no partition spec — is a GLOBAL
  * window: Spark moves the entire table into ONE task (the same
  * unsplittable-exchange hazard the domain-quota rewrite removed). Here
  * it is a textbook two-phase distributed prefix sum instead:
  *
  *  1. range-partition by id (contiguous, ordered id ranges per
  *     partition) and compute PER-PARTITION running totals — a window
  *     partitioned by `spark_partition_id()`, so every partition sums
  *     independently in parallel;
  *  2. per-partition TOTALS (one row per partition) get their own running
  *     total — a global window over ≤ numPartitions rows, which is
  *     partition-METADATA scale, not data scale — and come back as
  *     broadcast offsets.
  *
  * Row cum = local cum + partition offset. The result is invariant to
  * where the sampled range boundaries fall (cum(row) is a property of the
  * global order, not the partitioning), so nondeterministic range
  * sampling cannot change the output. `idCol` must be unique — it defines
  * the packing order (the corpus contract shared by every operator here).
  */
object Packing {

  /** (input columns) + `cum` — running total of `valCol` in `idCol` order.
    * numPartitions ≤ 0 → the session's shuffle parallelism.
    */
  def runningTotal(df: DataFrame, idCol: String, valCol: String,
                   numPartitions: Int = 0): DataFrame =
    runningTotalBy(df, Seq(col(idCol)), valCol, numPartitions)

  /** [[runningTotal]] over an arbitrary ordering (e.g. `priority DESC, id`
    * — the token-budget selection order). The ordering must be TOTAL
    * (include a unique tiebreak column): range partitioning and the
    * per-partition windows both key on it, and a total order is what makes
    * `cum` a property of the data rather than of partition boundaries.
    */
  def runningTotalBy(df: DataFrame, orderBy: Seq[Column], valCol: String,
                     numPartitions: Int = 0): DataFrame =
    runningTotalLayout(df, orderBy, valCol, numPartitions)._2

  /** [[runningTotalBy]]'s plan together with the checkpointed layout it
    * reads, for a caller that materializes the plan and frees the layout.
    */
  private[graft] def runningTotalLayout(df: DataFrame, orderBy: Seq[Column], valCol: String,
                                        numPartitions: Int): (DataFrame, DataFrame) = {
    val p = if (numPartitions > 0) numPartitions
            else df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    // localCheckpoint is CORRECTNESS, not tuning: `local` is referenced
    // twice (the offsets aggregation and the final join), and
    // repartitionByRange SAMPLES its boundaries per evaluation — if Spark
    // evaluates the two branches without reusing the exchange (observed
    // in round 12 when another range shuffle stacked on top: AQE planned
    // the branches separately), the __pid labels describe two DIFFERENT
    // layouts and the join pairs rows with other partitions' offsets —
    // silently corrupting every rank downstream (duplicate mix_ranks in
    // the interleave schedule). Materializing the labeled layout once
    // makes both branches read the same bytes by construction.
    val local = df.repartitionByRange(p, orderBy: _*)
      .withColumn("__pid", spark_partition_id())
      .withColumn("__cum", sum(col(valCol)).over(
        Window.partitionBy(col("__pid")).orderBy(orderBy: _*)))
      .localCheckpoint(true)
    // one row per partition; the only unpartitioned window in the plan
    // runs over THESE rows (≤ numPartitions), never over data
    val offsets = local.groupBy(col("__pid"))
      .agg(sum(col(valCol)).as("__t"))
      .withColumn("__off",
        coalesce(sum(col("__t")).over(
          Window.orderBy(col("__pid"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__pid"), col("__off"))
    (local, local.join(broadcast(offsets), "__pid")
      .withColumn("cum", (col("__cum") + col("__off")).cast("long"))
      .drop("__pid", "__cum", "__off"))
  }

  /** Per-GROUP running total — the grouped variant of [[runningTotalBy]]:
    * `cum` restarts for every `groupCol` value, in `orderBy` order within
    * the group. NOT a `Window.partitionBy(group)` (a mega-group would be
    * one unsplittable task — the skew hazard the domain-quota rewrite
    * removed): range partitioning on (group, ordering) keeps a group's
    * rows ordered ACROSS partitions, a mega-group simply spans several,
    * and the per-(partition, group) offsets — at most `numPartitions +
    * |groups|` rows, partition-metadata scale — chain the pieces together
    * with their own per-group prefix sum.
    */
  def runningTotalByGroup(df: DataFrame, groupCol: String, orderBy: Seq[Column],
                          valCol: String, numPartitions: Int = 0): DataFrame =
    runningTotalByGroupLayout(df, groupCol, orderBy, valCol, numPartitions)._2

  /** [[runningTotalByGroup]]'s plan with its checkpointed layout, as
    * [[runningTotalLayout]].
    */
  private[graft] def runningTotalByGroupLayout(df: DataFrame, groupCol: String,
                                               orderBy: Seq[Column], valCol: String,
                                               numPartitions: Int): (DataFrame, DataFrame) = {
    val p = if (numPartitions > 0) numPartitions
            else df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    // same divergent-re-evaluation hazard as runningTotalBy (see the
    // comment there): the labeled layout must be materialized once
    val local = df.repartitionByRange(p, (col(groupCol) +: orderBy): _*)
      .withColumn("__pid", spark_partition_id())
      .withColumn("__cum", sum(col(valCol)).over(
        Window.partitionBy(col("__pid"), col(groupCol)).orderBy(orderBy: _*)))
      .localCheckpoint(true)
    val offsets = local.groupBy(col("__pid"), col(groupCol))
      .agg(sum(col(valCol)).as("__t"))
      .withColumn("__off",
        coalesce(sum(col("__t")).over(
          Window.partitionBy(col(groupCol)).orderBy(col("__pid"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__pid").as("__opid"), col(groupCol).as("__grp"), col("__off"))
    // null-safe on the group: a NULL group value is a real group here,
    // same contract as languageQualityGate
    (local, local.join(broadcast(offsets),
        col("__pid") === col("__opid") && (col(groupCol) <=> col("__grp")))
      .withColumn("cum", (col("__cum") + col("__off")).cast("long"))
      .drop("__pid", "__opid", "__grp", "__cum", "__off"))
  }

  /** Deterministic EPOCH SHUFFLE — the training-order permutation that
    * precedes packing: `posCol` = rank of `md5(epoch ":" id)` (id as the
    * tiebreak). Hash-derived, never `rand()` (the [[graft.ops.Sampling]]
    * contract): reproducible across runs/retries/speculative re-execution,
    * and each epoch is an independent pseudo-random permutation, so
    * consecutive epochs decorrelate batch composition without any state.
    * md5 (not xxhash64) is deliberate: every engine has it, which makes
    * the permutation itself SQL-oracle-checkable.
    *
    * Scale shape: the rank is the two-phase distributed prefix sum over a
    * constant-1 column ([[runningTotalBy]] keyed on the shuffle key) —
    * a global `row_number()` window would be one unsplittable task. The
    * downstream writer typically range-partitions by `posCol`, giving
    * sequential trainers contiguous position ranges per file.
    */
  def epochShuffle(df: DataFrame, idCol: String, epoch: Int,
                   posCol: String = "epoch_pos",
                   numPartitions: Int = 0): DataFrame = {
    require(epoch >= 0, s"epochShuffle: epoch must be >= 0, got $epoch")
    df.withColumn("__skey", md5(concat(lit(s"$epoch:"), col(idCol).cast("string"))))
      .withColumn("__one", lit(1L))
      .transform(d => runningTotalBy(d, Seq(col("__skey"), col(idCol)), "__one",
        numPartitions))
      .withColumnRenamed("cum", posCol)
      .drop("__skey", "__one")
  }

  /** Chunk OVERSIZED documents to the token budget BEFORE packing: each
    * doc explodes into ⌈n/budget⌉ chunks of ≤ `budget` consecutive
    * tokens, re-joined with single spaces (the max_seq_len chunking every
    * tokenizer stage applies; [[packBins]] then never sees a doc that
    * can't fit a sequence). Within-row explode — no shuffle; chunk count
    * is bounded by document length. In-budget docs pass through as their
    * own chunk 0, byte-identical.
    */
  def splitOversized(df: DataFrame, idCol: String, textCol: String,
                     budget: Int): DataFrame = {
    require(budget >= 1, s"splitOversized: budget must be >= 1, got $budget")
    val ws = split(col(textCol), " ")
    df.withColumn("__ws", ws)
      .withColumn("chunk_id",
        explode(sequence(lit(0),
          expr(s"(size(__ws) - 1) div $budget").cast("int"))))
      .withColumn("chunk_text",
        array_join(slice(col("__ws"), col("chunk_id") * budget + 1, lit(budget)), " "))
      .withColumn("chunk_tokens",
        least(lit(budget), size(col("__ws")) - col("chunk_id") * budget).cast("int"))
      .drop("__ws", textCol)
  }

  /** OVERLAPPING context windows — the eval/inference-time counterpart of
    * [[splitOversized]]: windows of `budget` tokens starting every
    * `stride` tokens (stride < budget ⇒ consecutive windows share
    * `budget - stride` tokens of context, the sliding-window rule long-doc
    * QA/perplexity pipelines use). Window count is
    * `1 + ⌈(n - budget) / stride⌉` for n > budget, else 1 — the last
    * window is the first one that covers the document's end, so every
    * token is covered and no fully-redundant trailing window is emitted.
    * Within-row explode, shuffle-free; `stride == budget` degenerates to
    * the disjoint chunking of [[splitOversized]].
    */
  def slidingWindows(df: DataFrame, idCol: String, textCol: String,
                     budget: Int, stride: Int): DataFrame = {
    require(budget >= 1, s"slidingWindows: budget must be >= 1, got $budget")
    require(stride >= 1 && stride <= budget,
      s"slidingWindows: stride must be in [1, budget=$budget], got $stride")
    df.withColumn("__ws", split(col(textCol), " "))
      .withColumn("__last",
        when(size(col("__ws")) <= budget, lit(0)).otherwise(
          expr(s"(size(__ws) - $budget + $stride - 1) div $stride")).cast("int"))
      .withColumn("win_id", explode(sequence(lit(0), col("__last"))))
      .withColumn("win_text",
        array_join(slice(col("__ws"), col("win_id") * stride + 1, lit(budget)), " "))
      .withColumn("win_tokens",
        least(lit(budget), size(col("__ws")) - col("win_id") * stride).cast("int"))
      .drop("__ws", "__last", textCol)
  }

  /** Per-sequence packing MANIFEST — the artifact a trainer's data loader
    * consumes: one row per packed sequence with the docs inside it in
    * packing order, their count, and the sequence's filled token total
    * (`budget - seq_tokens` = padding, except where an oversized doc
    * spills). Runs over [[packBins]] output; the aggregation is keyed on
    * `seq_id` and each group is bounded by the budget (every doc carries
    * ≥ 1 token), so the collected id list can never exceed `budget`
    * entries — a safe collect_list, unlike collecting per-domain docs.
    */
  def packManifest(packed: DataFrame, idCol: String = "doc_id",
                   tokenCol: String = "n_tokens"): DataFrame =
    packed.groupBy(col("seq_id")).agg(
      count(lit(1)).cast("int").as("n_docs"),
      sum(col(tokenCol)).cast("long").as("seq_tokens"),
      min(col(idCol)).as("first_doc"),
      max(col(idCol)).as("last_doc"),
      array_join(transform(array_sort(collect_list(struct(col(idCol).as("i")))),
        x => x.getField("i").cast("string")), "|").as("doc_ids"))

  /** Contiguous-fill packing: doc → sequence `floor(tokensBefore/budget)`.
    * Output: input columns + `cum_tokens` (running total INCLUDING the
    * doc) + `seq_id`. A doc longer than the budget still gets exactly one
    * sequence id (its tokens spill into the ids that follow — the
    * convention that keeps every doc whole; split-and-truncate policies
    * belong to the tokenizer stage, not the packer).
    */
  def packBins(df: DataFrame, idCol: String, tokenCol: String, budget: Long,
               numPartitions: Int = 0): DataFrame =
    packBinsBy(df, Seq(col(idCol)), tokenCol, budget, numPartitions)

  /** [[packBins]] over an arbitrary TOTAL packing order — e.g. the
    * interleaved mixture schedule's `(pos, domain, mix_rank)` (see
    * [[graft.ops.Sampling.interleaveSchedule]]): training sequences fill
    * in the order batches will consume them, which is what makes a shard
    * a contiguous slice of the training stream (see [[graft.io.Shards]]).
    * Returns a checkpoint; the range layout it was computed from is freed.
    */
  def packBinsBy(df: DataFrame, orderBy: Seq[Column], tokenCol: String,
                 budget: Long, numPartitions: Int = 0): DataFrame = {
    require(budget >= 1, s"packBins: budget must be >= 1, got $budget")
    val (layout, cum) = runningTotalLayout(df, orderBy, tokenCol, numPartitions)
    val out = cum
      .withColumnRenamed("cum", "cum_tokens")
      .withColumn("seq_id",
        expr(s"(cum_tokens - $tokenCol) div CAST($budget AS BIGINT)"))
      .localCheckpoint(true)
    Materialize.release(layout)
    out
  }
}
