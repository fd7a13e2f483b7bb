package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Materialize

/** Product quantization (Jégou, Douze & Schmid, "Product Quantization for
  * Nearest Neighbor Search", IEEE TPAMI 33(1), 2011) — the compressed-vector
  * scale path for embedding search, composing with the IVF machinery in
  * [[Similarity]] (IVF prunes WHICH vectors a probe scans; PQ shrinks WHAT
  * a scan reads).
  *
  * The vector dimension d splits into `m` subspaces of `dsub = d/m` dims;
  * each subspace gets its own `ksub`-entry k-means codebook, and a vector is
  * stored as its `m` nearest-code ids — here 64 float32 (256 B) become 8
  * codes (8 B at ksub=16), a 32× compression that at 100 TB is the
  * difference between a scan that fits in page cache and one that doesn't.
  * Queries stay exact-precision: scoring is asymmetric (ADC) — per query,
  * one `m × ksub` lookup table of subspace dot products, then each corpus
  * vector costs m table lookups instead of d multiplies, and the corpus
  * pass reads ONLY the 8-byte code column (column pruning does the rest).
  *
  * Determinism contract (what makes the whole family DuckDB-oracle-able
  * given the trained codebook literals, same as the IVF family): k-means
  * init is the `ksub` lowest-id vectors; per-dimension means are
  * exact-decimal; assignment orders by `round(ssd, 6)` with
  * smallest-code-wins ties; ADC folds subspaces in index order and rounds
  * at 1e-6 after the norm division.
  */
object Pq {

  /** Trained model: the only driver-side state is `m × ksub` centroids of
    * `dsub` doubles each — model state, not data (1 KB-scale for the
    * defaults; never grows with the corpus).
    */
  final case class PqModel(m: Int, dsub: Int, ksub: Int,
                           codebook: Array[(Int, Int, Seq[Double])]) {
    /** (sub, code, c_vec, csq) as a broadcast frame; `csq = ||c||²` rides
      * along so ADC can reconstruct an approximate vector norm without
      * touching vectors.
      */
    def codebookDf(spark: SparkSession): DataFrame = {
      import spark.implicits._
      broadcast(codebook.toSeq.toDF("sub", "code", "c_vec")
        .withColumn("csq", Similarity.dot(col("c_vec"), col("c_vec"))))
    }
  }

  private def prep(corpus: DataFrame, idCol: String, vecCol: String) =
    corpus.select(col(idCol).as("n_id"),
      col(vecCol).cast("array<double>").as("n_vec"))

  /** (n_id, sub, x): each vector's m subvectors — a narrow explode fused
    * with the scan, never wider than one subspace per row.
    */
  private def subvectors(c: DataFrame, m: Int, dsub: Int): DataFrame =
    c.select(col("n_id"),
        explode(expr(s"""transform(sequence(0, ${m - 1}),
          s -> struct(s AS sub, slice(n_vec, s * $dsub + 1, $dsub) AS x))""")).as("sv"))
      .select(col("n_id"), col("sv.sub").as("sub"), col("sv.x").as("x"))

  /** Nearest-code assignment per (vector, subspace): squared-L2 argmin as a
    * partial-agg `min(struct(round(ssd,6), code))` — never a per-row window
    * (same shape and determinism contract as `Similarity.assignNearest`).
    * `ssd = x·x − 2·x·c + ||c||²` keeps every dot in the native kernel.
    */
  private def assignCodes(subs: DataFrame, cb: DataFrame): DataFrame =
    subs.join(cb, Seq("sub"))
      .select(col("n_id"), col("sub"), col("x"),
        struct(round(Similarity.dot(col("x"), col("x"))
            - lit(2) * Similarity.dot(col("x"), col("c_vec"))
            + col("csq"), 6).as("ssd"),
          col("code")).as("sc"))
      .groupBy("n_id", "sub")
      .agg(min(col("sc")).as("mn"), first(col("x")).as("x"))
      .select(col("n_id"), col("sub"), col("mn.code").cast("int").as("code"), col("x"))

  /** TRAIN: per-subspace Lloyd iterations, all m subspaces in ONE
    * distributed job per iteration (keyed by (sub, code) — m separate
    * trainings would scan the corpus m times). Collects are bounded by
    * `m × ksub × dsub` — model state. A code cell that loses all members
    * keeps its previous centroid (codes must stay dense 0..ksub−1: they are
    * flat LUT indices downstream).
    */
  def pqTrain(corpus: DataFrame, m: Int = 8, ksub: Int = 16, iters: Int = 3,
              idCol: String = "vec_id", vecCol: String = "embedding"): PqModel = {
    val spark = corpus.sparkSession
    val c = prep(corpus, idCol, vecCol)
    val dim = c.select(size(col("n_vec")).as("d")).head.getInt(0)
    require(dim % m == 0, s"pqTrain: dim $dim not divisible by m=$m")
    require(ksub >= 1 && iters >= 0, s"pqTrain: ksub=$ksub iters=$iters")
    val dsub = dim / m
    // deterministic init: the ksub lowest-id vectors seed every subspace
    val seed = c.orderBy("n_id").limit(ksub).collect()
    // codes are flat LUT indices (s*ksub + code) downstream — a corpus
    // smaller than ksub would silently mis-index lookups, so fail loudly
    require(seed.length == ksub,
      s"pqTrain: corpus has ${seed.length} vectors, need >= ksub=$ksub to seed a dense codebook")
    val init = PqModel(m, dsub, ksub,
      (for { (r, code) <- seed.zipWithIndex; sub <- 0 until m } yield
        (sub, code, r.getSeq[Double](1).slice(sub * dsub, (sub + 1) * dsub))).toArray)
    Materialize.using(subvectors(c, m, dsub)) { subs =>
      (1 to iters).foldLeft(init) { (model, _) =>
        val means = assignCodes(subs, model.codebookDf(spark))
          .select(col("sub"), col("code"), posexplode(col("x")).as(Seq("pos", "v")))
          .groupBy("sub", "code", "pos")
          // exact-decimal mean — raw double avg() merges partials in task
          // order and would make centroids differ run to run (see ivfTrain)
          .agg((sum(col("v").cast("decimal(28,14)")) / count(lit(1)))
            .cast("double").as("mval"))
          .groupBy("sub", "code")
          .agg(array_sort(collect_list(struct(col("pos"), col("mval")))).as("dims"))
          .select(col("sub"), col("code"), expr("transform(dims, d -> d.mval)").as("cv"))
          .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Double](2))).toMap
        model.copy(codebook = model.codebook.map { case (s, k, old) =>
          (s, k, means.getOrElse((s, k), old)) })
      }
    }
  }

  /** ENCODE: one narrow pass tags each vector with its m codes →
    * `(n_id, codes array<int> length m)`. At 100 TB this is written once
    * next to (or instead of) the float vectors; every ADC scan thereafter
    * reads 8 bytes/row instead of 256.
    */
  def pqEncode(corpus: DataFrame, model: PqModel,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    assignCodes(subvectors(prep(corpus, idCol, vecCol), model.m, model.dsub),
        model.codebookDf(corpus.sparkSession))
      .groupBy("n_id")
      .agg(array_sort(collect_list(struct(col("sub"), col("code")))).as("sc"))
      .select(col("n_id"), expr("transform(sc, p -> p.code)").as("codes"))

  /** PROBE (ADC): per query, ONE `m × ksub` lookup table (subspace dot
    * products against every codebook entry, plus the query-independent
    * `||c||²` row) broadcast into a single narrow pass over the code
    * column; each corpus row costs m `element_at` lookups — no vector is
    * read, no shuffle moves anything but the k·|queries| survivors.
    * Approximate cosine: `Σ_s d[s,code_s] / ‖q‖ / sqrt(Σ_s csq[s,code_s])`,
    * folded in subspace order and rounded at 1e-6 (division order matches
    * `Similarity.cosine`).
    */
  /** Per-query ADC state from a `(q_id, q_vec)` frame: flat (sub, code)
    * dot/norm lookup tables + the query norm — one small row per query,
    * broadcast into whichever scoring pass consumes it.
    */
  private def adcLut(q: DataFrame, model: PqModel): DataFrame = {
    val dsub = model.dsub
    q.crossJoin(model.codebookDf(q.sparkSession))
      .select(col("q_id"), col("q_vec"), col("sub"), col("code"),
        Similarity.dot(expr(s"slice(q_vec, sub * $dsub + 1, $dsub)"), col("c_vec")).as("d"),
        col("csq"))
      .groupBy("q_id")
      .agg(array_sort(collect_list(struct(col("sub"), col("code"), col("d"), col("csq")))).as("e"),
        first(col("q_vec")).as("q_vec"))
      .select(col("q_id"),
        expr("transform(e, p -> p.d)").as("dlut"),
        expr("transform(e, p -> p.csq)").as("clut"),
        sqrt(Similarity.dot(col("q_vec"), col("q_vec"))).as("qn"))
  }

  /** The ADC approximate-cosine expression over columns `codes`, `dlut`,
    * `clut`, `qn` — subspace-ordered fold, rounded at 1e-6 after the norm
    * division (matches `Similarity.cosine`'s division order).
    */
  private def adcExpr(model: PqModel): org.apache.spark.sql.Column = {
    val (m, ksub) = (model.m, model.ksub)
    round(
      expr(s"""aggregate(sequence(0, ${m - 1}), cast(0.0 as double),
          (acc, s) -> acc + element_at(dlut, s * $ksub + element_at(codes, s + 1) + 1))""")
        / col("qn")
        / sqrt(expr(s"""aggregate(sequence(0, ${m - 1}), cast(0.0 as double),
          (acc, s) -> acc + element_at(clut, s * $ksub + element_at(codes, s + 1) + 1))""")),
      6)
  }

  def pqProbe(codes: DataFrame, model: PqModel, queries: DataFrame, k: Int = 10,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("q_id"),
      col(vecCol).cast("array<double>").as("q_vec"))
    val scored = codes.crossJoin(broadcast(adcLut(q, model)))
      .filter(col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("n_id"), adcExpr(model).as("adc"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("adc").desc, col("n_id"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("q_id"), col("n_id"), col("adc"), col("rk"))
  }

  /** IVF × PQ composed — the FAISS-IVFPQ serving shape and the claim
    * SCALE.md makes made literal: the IVF probe bounds WHICH rows are
    * scanned (nprobe/nlist of the corpus, via a KEYED join on the list
    * id), PQ bounds WHAT each scanned row costs (8-byte codes, m lookups).
    * Candidates never cross-join: probed `(cid, q_id)` pairs broadcast
    * into the assignment, codes join by vector id, and only the
    * k·|queries| survivors leave the scoring pass.
    */
  def pqIvfProbe(assigned: DataFrame, codes: DataFrame, model: PqModel,
                 ivf: Similarity.IvfModel, queries: DataFrame,
                 k: Int = 10, nprobe: Int = 4,
                 idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cents = ivf.centroidDf(queries.sparkSession)
    val q = queries.select(col(idCol).as("q_id"),
      col(vecCol).cast("array<double>").as("q_vec"))
    val probeW = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("cid"))
    val probes = q.crossJoin(cents)
      .select(col("q_id"), col("cid"),
        Similarity.cosine(col("q_vec"), col("c_vec")).as("sim"))
      .withColumn("rk", row_number().over(probeW)).filter(col("rk") <= nprobe)
      .select(col("cid"), col("q_id"))
    val cand = assigned.select(col("cid"), col("n_id"))
      .join(broadcast(probes), Seq("cid"))
      .filter(col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("n_id"))
    val scored = cand.join(codes, Seq("n_id"))
      .join(broadcast(adcLut(q, model)), Seq("q_id"))
      .select(col("q_id"), col("n_id"), adcExpr(model).as("adc"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("adc").desc, col("n_id"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("q_id"), col("n_id"), col("adc"), col("rk"))
  }

  /** PROBE + REFINE — the deployment-grade serving shape: over-fetch a
    * `fetch`-deep shortlist in the compressed domain (ADC; reads codes
    * only), then re-rank JUST the shortlist with exact cosine over true
    * vectors. The corpus-wide pass stays 8 bytes/row; float vectors are
    * fetched for `fetch × |queries|` rows — a sliver — via a KEYED join on
    * the vector id. Recall approaches exact search as `fetch/k` grows
    * while the scan cost stays compressed-domain (the ADC-only probe on
    * near-random synthetic embeddings measures recall@10 ≈ 0.2–0.5; the
    * refined form recovers most of the gap at fetch=4k).
    */
  def pqProbeRefined(codes: DataFrame, model: PqModel, corpus: DataFrame,
                     queries: DataFrame, k: Int = 10, fetch: Int = 40,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val shortlist = pqProbe(codes, model, queries, fetch, idCol, vecCol)
      .select(col("q_id"), col("n_id"))
    val c = prep(corpus, idCol, vecCol)
    val q = queries.select(col(idCol).as("q_id"),
      col(vecCol).cast("array<double>").as("q_vec"))
    val scored = shortlist.join(c, Seq("n_id")).join(broadcast(q), Seq("q_id"))
      .select(col("q_id"), col("n_id"),
        Similarity.cosine(col("q_vec"), col("n_vec")).as("cos"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("q_id"), col("n_id"), col("cos"), col("rk"))
  }

  /** Convenience: train + encode + probe (tests / one-shot use; serving
    * holds the model and the written code table and calls [[pqProbe]]).
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int = 10,
             m: Int = 8, ksub: Int = 16, iters: Int = 3,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val model = pqTrain(corpus, m, ksub, iters, idCol, vecCol)
    pqProbe(pqEncode(corpus, model, idCol, vecCol), model, queries, k, idCol, vecCol)
  }
}
