package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling and dataset splitting — the selection operators a
  * training-data pipeline runs constantly.
  *
  * Everything here is HASH-derived, never `rand()`:
  *  - reproducible across runs, retries, and speculative task re-execution
  *    (a rand() sample re-draws per attempt — lineage recomputation then
  *    yields a DIFFERENT sample, silently corrupting downstream caches);
  *  - stable under repartitioning (keyed on data, not on partition layout);
  *  - consistent across tables: sampling users and their events by the same
  *    key keeps referential integrity.
  * One narrow map pass, no shuffle, fused with the scan.
  */
object Sampling {

  private val Buckets = 1000000L

  /** Keep rows where hash(key, salt) lands under `rate` of the bucket
    * space — Bernoulli-by-hash.
    */
  def byHash(df: DataFrame, key: Column, rate: Double, salt: Long = 0L): DataFrame =
    df.filter(pmod(xxhash64(key, lit(salt)), lit(Buckets)) < (lit(Buckets) * rate))

  /** Deterministic train/val/test split: adds `split` with the name whose
    * cumulative weight band contains the row's hash bucket. Weights are
    * normalized; every row lands in exactly one split.
    */
  def splitByHash(df: DataFrame, key: Column, weights: Seq[Double],
                  names: Seq[String], salt: Long = 0L): DataFrame = {
    require(weights.size == names.size && weights.forall(_ > 0))
    val total = weights.sum
    val cuts = weights.scanLeft(0.0)(_ + _).map(w => (w / total * Buckets).toLong)
    val bucket = pmod(xxhash64(key, lit(salt)), lit(Buckets))
    val expr = names.zip(cuts.sliding(2).toSeq).foldLeft(lit(null).cast("string")) {
      case (acc, (name, Seq(lo, hi))) =>
        when(bucket >= lo && bucket < hi, lit(name)).otherwise(acc)
    }
    df.withColumn("split", expr)
  }

  /** [[splitByHash]]'s ENGINE-PORTABLE twin (the [[byWeight]] idiom): the
    * bucket is the first 4 hex chars of `md5(salt ":" key)` — 16 bits of
    * uniform — and the cumulative-weight cuts are zero-padded lowercase
    * 4-hex literals, so band membership is an equal-length hex-string
    * compare that IS the numeric compare in any engine with md5. Weights
    * quantize to 1/65536 (a 0.8/0.1/0.1 split is exact to ±1 bucket);
    * every row lands in exactly one split. Use [[splitByHash]] when the
    * split only has to be reproducible within Spark (xxhash64 is
    * codegen'd and cheaper than an md5 over strings); use this form when
    * the assignment itself must be recomputable by another engine —
    * which also makes it SQL-oracle-checkable.
    */
  def splitByMd5(df: DataFrame, key: Column, weights: Seq[Double],
                 names: Seq[String], salt: String = "split"): DataFrame = {
    require(weights.size == names.size && weights.nonEmpty && weights.forall(_ > 0))
    val total = weights.sum
    val cuts = weights.scanLeft(0.0)(_ + _)
      .map(w => math.floor(w / total * 65536.0).toLong)
    val u = substring(md5(concat(lit(s"$salt:"), key.cast("string"))), 1, 4)
    def hx(v: Long) = f"$v%04x"
    val expr = names.zip(cuts.sliding(2).toSeq).foldLeft(lit(null).cast("string")) {
      case (acc, (name, Seq(lo, hi))) =>
        // the top band's hi is 65536 — five hex digits, outside the 4-char
        // compare space — so it is open-ended (bands are disjoint either way)
        val cond = if (hi >= 65536L) u >= lit(hx(lo))
                   else u >= lit(hx(lo)) && u < lit(hx(hi))
        when(cond, lit(name)).otherwise(acc)
    }
    df.withColumn("split", expr)
  }

  /** Systematic modulo sampling on an integer key (1-in-k). Coarser than
    * [[byHash]] (correlated with key structure) but expressible in any
    * engine — the oracle-checkable member of the family.
    */
  def byModulo(df: DataFrame, key: Column, k: Int): DataFrame =
    df.filter(pmod(key, lit(k)) === 0)

  /** Deterministic IMPORTANCE sampling: keep each row with probability
    * `weight` (a per-row column in [0,1]; ≥1 always keeps, ≤0 never) — the
    * quality-/domain-weighted resampling step of data-selection pipelines
    * (DSIR-style: acceptance ∝ importance weight), made reproducible by
    * deciding acceptance from a hash, never `rand()`: a retry, speculative
    * task, or re-run selects the identical corpus.
    *
    * Mechanism is cross-engine on purpose: the uniform is the first 4 hex
    * chars of `md5(salt ":" key)` and the threshold is `⌊weight·65536⌋` as
    * a zero-padded 4-char hex literal — comparing equal-length lowercase
    * hex strings IS the numeric compare, and every engine has md5, so the
    * exact selected set (weight quantized to 1/65536) is SQL-oracle-
    * checkable. Map-side filter; no shuffle, no state.
    */
  def byWeight(df: DataFrame, key: Column, weight: Column,
               salt: String = "w"): DataFrame = {
    val u = substring(md5(concat(lit(s"$salt:"), key.cast("string"))), 1, 4)
    val thr = lpad(lower(hex(greatest(lit(0L), floor(weight * 65536).cast("long")))),
      4, "0")
    df.filter(weight >= 1 || u < thr)
  }

  /** Temperature-based domain mixing at α = 0.5 — the standard
    * multilingual/multidomain rebalancing rule (sample domain d
    * proportionally to c_d^α, α < 1, so dominant sources flatten and rare
    * ones are boosted relative to their raw share; mT5/GPT-style mixing).
    * Selects a deterministic `total`-row sample whose per-domain counts
    * are n_d = ⌊total · w_d / Σw⌋ capped at c_d, with w_d = ⌊√c_d⌋.
    *
    * Every quantity is INTEGER-exact on purpose: ⌊√c⌋ of a correctly-
    * rounded IEEE sqrt is the same value in any engine (a non-square c
    * never lands within an ulp of an integer at corpus scales), and the
    * weight sum / target division are integer arithmetic — so the whole
    * mix, selection included, is SQL-oracle-checkable. A general-α version
    * would ride on `pow`, which is NOT correctly rounded and can differ
    * across engines at the last ulp — exactly where a floor flips.
    *
    * Within a domain the kept docs are the first n_d under the md5 order
    * (deterministic pseudo-random, the [[graft.ext.Packing.epochShuffle]]
    * key), ranked by the per-group distributed prefix sum — never a
    * per-domain window, so a mega-domain (the thing mixing exists to tame)
    * spans tasks instead of becoming one.
    *
    * Returns the selected rows with their domain rank `mix_rank` (1-based).
    */
  def temperatureMixSqrt(df: DataFrame, domainCol: String, total: Long,
                         idCol: String = "doc_id", salt: String = "mix"): DataFrame = {
    require(total >= 1, s"temperatureMixSqrt: total must be >= 1, got $total")
    val counts = df.groupBy(col(domainCol))
      .agg(count(lit(1)).as("__cd"))
      .withColumn("__wd", floor(sqrt(col("__cd"))).cast("long"))
    // Σw via a single-row aggregate joined back (a tiny two-step broadcast
    // — never a global window); n_d = min(c_d, total·w_d div Σw)
    val sw = counts.agg(sum(col("__wd")).as("__sw"))
    val quota = counts.crossJoin(broadcast(sw))
      .withColumn("__nd", least(col("__cd"),
        expr(s"CAST($total AS BIGINT) * __wd div __sw")))
      .select(col(domainCol).as("__qdom"), col("__nd"))
    val ranked = graft.ext.Packing.runningTotalByGroup(
      df.withColumn("__skey",
          md5(concat(lit(s"$salt:"), col(idCol).cast("string"))))
        .withColumn("__one", lit(1L)),
      domainCol, Seq(col("__skey"), col(idCol)), "__one")
      .withColumnRenamed("cum", "mix_rank")
      .drop("__skey", "__one")
    ranked.join(broadcast(quota), col(domainCol) <=> col("__qdom"))
      .filter(col("mix_rank") <= col("__nd"))
      .drop("__qdom", "__nd")
  }

  /** Largest-remainder (Hamilton) quota allocation — the integer split a
    * mixture build actually needs: quotas PROPORTIONAL to the weights that
    * sum to EXACTLY `total` (floor division alone, as in
    * [[temperatureMixSqrt]], under-allocates by up to one per domain;
    * sequential rounding drifts). Entirely integer arithmetic:
    * `q_i = ⌊T·w_i/W⌋`, then the `T − Σ⌊⌋` leftover units go to the
    * largest remainders `T·w_i mod W` (ties → key ascending) —
    * deterministic and engine-portable, no floats anywhere.
    *
    * Input: one row per key `(keyCol, weightCol≥0)` — an AGGREGATED
    * domain table (thousands of rows at 100 TB, not a corpus). Even so,
    * the remainder rank is the DISTRIBUTED prefix rank
    * ([[graft.ext.Packing.runningTotalBy]]'s partition-offset scheme),
    * never a global sort window, and the two scalar totals (ΣW, Σ⌊⌋) are
    * single-row aggregates broadcast back — the registry-wide
    * no-global-window guard holds here like everywhere else. Output:
    * `(keyCol, quota)` with `Σ quota = total` (when `Σ weight > 0`).
    */
  def allocateQuotas(counts: DataFrame, keyCol: String, weightCol: String,
                     total: Long): DataFrame =
    quotasWithLayout(counts, keyCol, weightCol, total)._2

  /** [[allocateQuotas]]'s plan with the checkpointed rank layout it reads. */
  private def quotasWithLayout(counts: DataFrame, keyCol: String, weightCol: String,
                               total: Long): (DataFrame, DataFrame) = {
    require(total >= 0, s"allocateQuotas: total must be >= 0, got $total")
    val w = counts.select(col(keyCol), col(weightCol).cast("long").as("__w"))
    val sw = w.agg(sum(col("__w")).as("__sw"))
    val base = w.crossJoin(broadcast(sw))
      .withColumn("__q", expr(s"CAST($total AS BIGINT) * __w div __sw"))
      .withColumn("__rem", expr(s"CAST($total AS BIGINT) * __w % __sw"))
    val left = base.agg((lit(total) - sum(col("__q"))).as("__left"))
    val (layout, ranked) = graft.ext.Packing.runningTotalLayout(
      base.withColumn("__one", lit(1L)),
      Seq(col("__rem").desc, col(keyCol)), "__one", numPartitions = 0)
    (layout, ranked.withColumnRenamed("cum", "__rk")
      .crossJoin(broadcast(left))
      .select(col(keyCol),
        (col("__q") + when(col("__rk") <= col("__left"), 1L).otherwise(0L))
          .as("quota")))
  }

  /** Deterministic INTERLEAVED mixture schedule — the order a data loader
    * should consume the mixture in, so no training batch is one domain:
    * [[allocateQuotas]] (weights = domain counts) fixes how many docs each
    * domain contributes, the per-domain md5 prefix rank picks WHICH docs
    * (reproducible, rerun-stable), and each domain's picks are spread
    * evenly over the global schedule by pure integer arithmetic:
    * `pos = (rank−1)·T div quota` places domain d's r-th pick at its
    * proportional offset in [0, T). Consuming in `(pos, domain, rank)`
    * order yields the round-robin-proportional interleave. `total` must
    * not exceed the corpus (quotas are WITHOUT replacement; with
    * weights = counts and T ≤ n, every quota ≤ its domain count).
    *
    * Scale shape: quota table is a broadcast of the aggregated domains,
    * ranks are the per-group distributed prefix rank
    * ([[graft.ext.Packing.runningTotalByGroup]]) — no global or per-domain
    * sort window ever touches data.
    *
    * Output: `(input columns…, mix_rank, pos)` for the selected docs, as a
    * checkpoint: the two rank layouts it was computed from are freed.
    */
  def interleaveSchedule(df: DataFrame, domainCol: String, total: Long,
                         idCol: String = "doc_id", salt: String = "mix"): DataFrame = {
    require(total >= 1, s"interleaveSchedule: total must be >= 1, got $total")
    val counts = df.groupBy(col(domainCol)).agg(count(lit(1)).as("__c"))
    val (quotaLayout, quotas) = quotasWithLayout(counts, domainCol, "__c", total)
    val (rankLayout, ranked) = graft.ext.Packing.runningTotalByGroupLayout(
      df.withColumn("__skey",
          md5(concat(lit(s"$salt:"), col(idCol).cast("string"))))
        .withColumn("__one", lit(1L)),
      domainCol, Seq(col("__skey"), col(idCol)), "__one", numPartitions = 0)
    val out = ranked.withColumnRenamed("cum", "mix_rank")
      .drop("__skey", "__one")
      .join(broadcast(quotas.filter(col("quota") > 0)
        .withColumnRenamed(domainCol, "__qd")), col(domainCol) <=> col("__qd"))
      .filter(col("mix_rank") <= col("quota"))
      .withColumn("pos",
        expr(s"(mix_rank - 1) * CAST($total AS BIGINT) div quota"))
      .drop("__qd", "quota")
      .localCheckpoint(true)
    Seq(quotaLayout, rankLayout).foreach(graft.Materialize.release(_))
    out
  }

  /** Stratified modulo sampling: per-stratum 1-in-k rates (corpus
    * REBALANCING — e.g. downsample the dominant language, keep the rare
    * ones whole). Strata missing from `rates` fall back to `defaultK`;
    * k=1 keeps the stratum entire. Same determinism contract as
    * [[byModulo]] (pure map pass, no shuffle, engine-portable), and the
    * stratum column stays a column — no driver-side group enumeration, so
    * an unexpected new stratum at 100 TB changes selectivity, not the
    * plan.
    */
  def stratifiedByModulo(df: DataFrame, stratum: Column, key: Column,
                         rates: Map[String, Int], defaultK: Int = 1): DataFrame = {
    require(defaultK >= 1 && rates.values.forall(_ >= 1),
      "stratifiedByModulo: every k must be >= 1")
    val k = rates.foldLeft(lit(defaultK)) { case (acc, (s, ki)) =>
      when(stratum === s, lit(ki)).otherwise(acc)
    }
    df.filter(pmod(key, k) === 0)
  }

  /** Deterministic EXACTLY-k-per-group sample (a "reservoir" whose draws
    * are hash-derived, so the same k rows survive every run/retry): keep
    * each group's k smallest rows under the order
    * (md5(salt:id) first 13 hex chars, id).
    *
    * Scale shape: [[graft.ext.TopKAgg]]'s k-bounded PARTIAL aggregation,
    * never `row_number().over(Window.partitionBy(group))` — a windowed rank
    * forces every row of a group into one task, and a skewed mega-group is
    * one straggler/OOM; the bounded aggregator keeps ≤ k pairs per group
    * per map task so the exchange carries a result-sized summary (the
    * domainQuota argument, see `pipeline.DataPrep`).
    *
    * Determinism/portability: 13 hex chars = 52 bits — exact in a double
    * (the aggregator's rank type) AND numerically ordered exactly like the
    * fixed-length lowercase hex string, so a SQL engine mirrors the
    * selection with `ORDER BY substring(md5(...), 1, 13), id`. Prefix
    * collisions fall through to the id tiebreak identically on both sides.
    * `idCol` must be unique (the corpus contract all dedup operators here
    * share); groups with ≤ k rows survive whole.
    */
  def sampleKPerGroup(df: DataFrame, groupCol: String, idCol: String, k: Int,
                      salt: String = "res"): DataFrame = {
    require(k >= 1, s"sampleKPerGroup: k must be >= 1, got $k")
    val topk = udaf(new graft.ext.TopKAgg(k))
    val rank = conv(substring(
      md5(concat(lit(s"$salt:"), col(idCol).cast("string"))), 1, 13), 16, 10)
      .cast("long").cast("double")
    df.groupBy(col(groupCol))
      // TopKAgg keeps the k LARGEST by value — negate for smallest-md5-first
      .agg(topk(-rank, col(idCol).cast("long")).as("top"))
      .select(col(groupCol), explode(col("top._2")).as(idCol))
  }
}
