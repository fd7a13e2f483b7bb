package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Partial-aggregating second-moment buffer: the flattened upper triangle
  * of `Σ z·zᵀ` accumulated per task, merged element-wise — the
  * [[MinHashMergeAgg]] pattern applied to regression moments. One ~17 KB
  * buffer per map task crosses the exchange regardless of corpus size.
  */
class MomentsAgg(n: Int)
  extends org.apache.spark.sql.expressions.Aggregator[Seq[Double], Array[Double], Array[Double]] {
  private val cells = n * (n + 1) / 2

  override def zero: Array[Double] = new Array[Double](cells)

  override def reduce(buf: Array[Double], z: Seq[Double]): Array[Double] = {
    val za = z.toArray
    var idx = 0
    var i = 0
    while (i < n) {
      val zi = za(i)
      var j = i
      while (j < n) { buf(idx) += zi * za(j); idx += 1; j += 1 }
      i += 1
    }
    buf
  }

  override def merge(a: Array[Double], b: Array[Double]): Array[Double] = {
    var i = 0
    while (i < cells) { a(i) += b(i); i += 1 }
    a
  }

  override def finish(r: Array[Double]): Array[Double] = r

  override def bufferEncoder: org.apache.spark.sql.Encoder[Array[Double]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()

  override def outputEncoder: org.apache.spark.sql.Encoder[Array[Double]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()
}

/** Linear-probe training over an embedding column — the missing half of
  * [[graft.ext]]'s classifier story: `Classifier` scores documents with a
  * GIVEN linear model; this trains one (ridge-solved least squares against
  * a label column), entirely inside the engine.
  *
  * Shape: the ONLY distributed work is the second-moment matrix
  * `M = Σ_rows z·zᵀ` over the augmented vector `z = [x, 1, y]` — one pass,
  * one keyed aggregation over (d+2)(d+3)/2 upper-triangle cells; the
  * normal-equation solve is driver-side on a (d+1)×(d+1) system (model
  * state, like the IVF/PQ centroids — never grows with the corpus).
  * Sums follow the repo's exact-DECIMAL convention (queries/Util.scala):
  * per-row products are bit-identical IEEE in both engines, decimal
  * addition is associative, so the moment matrix — the entire distributed
  * computation — is DuckDB-oracle-checkable, and scoring re-uses the
  * PQ-style generated-SQL oracle with the trained weights as literals.
  *
  * The explode-by-d² moment form is the exact/oracle twin; at extreme
  * dim×corpus products a deployment would swap in a partial-aggregating
  * buffer (one d² array per task, the [[MomentsAgg]] pattern) with this
  * form as its correctness pin.
  */
object LinearProbe {

  /** Upper-triangle second moments of `z = [x, 1, y]`: rows `(i, j, v)`
    * with `i ≤ j`, `v = Σ z_i·z_j` (exact decimal sum, rounded at 1e-6 —
    * the engine-portable aggregate). Indices: 0..d-1 = embedding dims,
    * d = bias, d+1 = label.
    *
    * Execution (round 15): the DEFINITIONAL form is
    * [[momentsViaDecimal]] — `round(sum(cast(p as decimal(28,10))), 6)`,
    * what the DuckDB oracle mirrors — but Spark's decimal aggregation was
    * ~80% of the entry (per-row string-based BigDecimal cast + 16-byte
    * buffer writes + BigDecimal adds; OPTIMIZATION_r15.md, change 3). The
    * shipped plan sums the SAME scale-10 digits as plain longs
    * ([[graft.functions.FixedPoint.unscaled10]] — identical per-row
    * rounding by construction) and re-applies the half-up-at-6 + cast in
    * integer arithmetic; decimal addition is exact integer addition of
    * unscaled values, so the result is bit-identical WHENEVER the long
    * sum cannot overflow — and each cell carries that certificate
    * (`n · max|u| < 9.0e18`, a sound |Σu| bound with margin under 2^63)
    * and raises rather than emit a wrapped sum. Equality with the decimal
    * form is pinned in LinearProbeSpec; the oracle entry hash-pins it
    * cross-engine at every gate scale.
    */
  def moments(corpus: DataFrame, vecCol: String = "embedding",
              labelCol: String = "label"): DataFrame =
    FixedPointAgg.cellsRound6(momentRows(corpus, vecCol, labelCol))

  /** The definitional exact-decimal form of [[moments]] (what the oracle
    * SQL mirrors verbatim); kept as the correctness pin and the fallback
    * for magnitudes beyond the fixed-point certificate.
    */
  def momentsViaDecimal(corpus: DataFrame, vecCol: String = "embedding",
                        labelCol: String = "label"): DataFrame =
    momentRows(corpus, vecCol, labelCol)
      .groupBy("i", "j")
      .agg(round(sum(col("p").cast("decimal(28,10)")), 6).cast("double").as("v"))

  /** Shared generator: one row per upper-triangle product per input row. */
  private def momentRows(corpus: DataFrame, vecCol: String,
                         labelCol: String): DataFrame =
    corpus
      .select(expr(s"""concat(cast($vecCol as array<double>),
        array(cast(1.0 as double)), array(cast($labelCol as double)))""").as("z"))
      .select(explode(expr(
        """transform(sequence(0, size(z) - 1), i ->
             struct(i AS i, element_at(z, i + 1) AS zi,
                    slice(z, i + 1, size(z) - i) AS tail))""")).as("t"))
      .select(col("t.i").as("i"),
        posexplode(expr("transform(t.tail, zj -> t.zi * zj)")).as(Seq("dj", "p")))
      .select(col("i"), (col("i") + col("dj")).cast("int").as("j"), col("p"))

  /** Production fast path for the moment matrix: a typed `Aggregator`
    * accumulating the flattened upper triangle in ONE local buffer per
    * task ((d+2)(d+3)/2 doubles ≈ 17 KB at d=64) — the exchange carries
    * one buffer per map task instead of the exact twin's d²-exploded rows
    * (×2211 the corpus row count at d=64). Double accumulation is
    * task-order-dependent in the last ulp, so this form is rows-only
    * evidence; [[moments]] (exact decimal) is its correctness pin — the
    * unit asserts agreement within 1e-6 — and remains what [[train]] uses
    * for bit-reproducible weights.
    */
  def momentsFast(corpus: DataFrame, vecCol: String = "embedding",
                  labelCol: String = "label"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val dim = corpus.select(size(col(vecCol)).as("d")).head.getInt(0)
    val n = dim + 2
    val z = corpus.select(expr(s"""concat(cast($vecCol as array<double>),
        array(cast(1.0 as double)), array(cast($labelCol as double)))""").as("z"))
      .as[Seq[Double]]
    val agg = new MomentsAgg(n)
    z.groupByKey(_ => 0).agg(agg.toColumn.name("m"))
      .flatMap { case (_, arr) =>
        val out = Seq.newBuilder[(Int, Int, Double)]
        var idx = 0
        var i = 0
        while (i < n) {
          var j = i
          while (j < n) { out += ((i, j, arr(idx))); idx += 1; j += 1 }
          i += 1
        }
        out.result()
      }
      .toDF("i", "j", "v")
  }

  /** Driver-side ridge solve from collected moments. Builds the full
    * symmetric (d+2)² matrix, extracts `A = M[0..d][0..d] + λ·diag` (the
    * bias row/col unpenalized, the standard convention) and
    * `b = M[0..d][d+1]`, and runs Gaussian elimination with deterministic
    * partial pivoting (max |pivot|, lowest row on ties). Returns
    * `(weights, bias)`.
    */
  def trainRidge(momentRows: Seq[(Int, Int, Double)], dim: Int,
                 lambda: Double = 1e-3): (Array[Double], Double) = {
    val n = dim + 2
    val m = Array.ofDim[Double](n, n)
    momentRows.foreach { case (i, j, v) => m(i)(j) = v; m(j)(i) = v }
    val k = dim + 1 // system size: dims + bias
    val a = Array.tabulate(k, k) { (i, j) =>
      m(i)(j) + (if (i == j && i < dim) lambda else 0.0)
    }
    val b = Array.tabulate(k)(i => m(i)(dim + 1))
    var col0 = 0
    while (col0 < k) {
      var p = col0
      var best = math.abs(a(col0)(col0))
      var r = col0 + 1
      while (r < k) {
        val v = math.abs(a(r)(col0))
        if (v > best) { best = v; p = r } // strict >: lowest row wins ties
        r += 1
      }
      require(best > 0.0, s"trainRidge: singular system at column $col0 (raise lambda)")
      if (p != col0) {
        val t = a(p); a(p) = a(col0); a(col0) = t
        val tb = b(p); b(p) = b(col0); b(col0) = tb
      }
      var r2 = col0 + 1
      while (r2 < k) {
        val f = a(r2)(col0) / a(col0)(col0)
        if (f != 0.0) {
          var c = col0
          while (c < k) { a(r2)(c) -= f * a(col0)(c); c += 1 }
          b(r2) -= f * b(col0)
        }
        r2 += 1
      }
      col0 += 1
    }
    val x = new Array[Double](k)
    var i = k - 1
    while (i >= 0) {
      var s = b(i)
      var c = i + 1
      while (c < k) { s -= a(i)(c) * x(c); c += 1 }
      x(i) = s / a(i)(i)
      i -= 1
    }
    (x.take(dim), x(dim))
  }

  /** Score every vector with a trained probe: `round(w·x + b, 6)` — one
    * narrow pass, weights broadcast as an array literal (the generated
    * oracle embeds the identical literals, PQ-style).
    */
  def scores(corpus: DataFrame, w: Array[Double], bias: Double,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    corpus.select(col(idCol).as("vec_id"),
      round(Similarity.dot(col(vecCol).cast("array<double>"),
        typedLit(w.toSeq)) + lit(bias), 6).as("score"))

  /** Train on (embedding, label) and return `(w, bias)` — moments pass +
    * driver solve. `dim` is probed from one row (schema-bounded action).
    */
  def train(corpus: DataFrame, lambda: Double = 1e-3,
            vecCol: String = "embedding", labelCol: String = "label"): (Array[Double], Double) = {
    val dim = corpus.select(size(col(vecCol)).as("d")).head.getInt(0)
    val rows = moments(corpus, vecCol, labelCol)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2))).toSeq
    trainRidge(rows, dim, lambda)
  }
}
