package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** Fixed-point fast path for the repo's exact-decimal aggregation scheme
  * (queries/Util.scala): a cross-engine-exact `sum(double)` needs per-row
  * rounding to a fixed decimal scale plus an ASSOCIATIVE addition — but it
  * does not need Spark's decimal machinery to do the adding. Casting to
  * `decimal(28,10)` and summing pays, per row: a `Double.toString`-based
  * BigDecimal, a `setScale`, a 16-byte UnsafeRow decimal write, and a
  * BigDecimal add in the aggregation buffer (precision 38 > the compact-long
  * cutoff of 18). Measured on the moments entry this was ~80% of the whole
  * query (OPTIMIZATION_r15.md, change 3).
  *
  * `unscaled10(d)` instead emits the decimal's UNSCALED value as a plain
  * long: exactly `cast(d as decimal(x,10))`'s digits — BigDecimal.valueOf
  * (the shortest-representation semantics Spark's double→decimal cast uses,
  * via scala BigDecimal's `decimal(d)`) then `setScale(10, HALF_UP)` —
  * so `sum(unscaled10(d))` over LONGS equals the unscaled value of
  * `sum(cast(d as decimal(28,10)))` whenever the long sum cannot overflow.
  * Callers must carry the overflow CERTIFICATE alongside
  * (`count · max(abs(u)) < 9.0e18` checked in double — an upper bound on
  * `|Σu|` with margin below 2^63 ≈ 9.22e18) and fail loudly otherwise;
  * [[graft.ext.LinearProbe.moments]] is the pattern.
  *
  * Deliberate fail-loud domain edge: |d| ≥ ~9.2e8 cannot hold scale-10
  * digits in a long — the expression THROWS (`longValueExact`) instead of
  * the decimal cast's silent null-at-1e18. NaN/Infinity → null, matching
  * the cast.
  */
object FixedPoint {
  def unscaled10(d: Double): java.lang.Long =
    if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d)) null
    else {
      // Fast path: decide the half-up rounding from y = d·1e10 directly.
      // Sound because (a) 1e10 is exactly representable, so y is one
      // correctly-rounded multiply off the true d·1e10 (error ≤ ulp(y)/2);
      // (b) the shortest-repr value valueOf rounds, R(d), satisfies
      // |R(d)−d| ≤ ulp(d)/2, so |R(d)·1e10 − y| ≤ ~1.5·ulp(y); and
      // (c) for |y| < 2^52 both floor(y) and y−floor(y) are exact. When
      // the fractional part is farther than 4·ulp(y)+1e-12 from the 0.5
      // boundary, nearest-integer of y IS half-up of R(d)·1e10 — ties and
      // the huge-magnitude tail (both vanishingly rare) take the exact
      // BigDecimal path. Identity with the slow path is property-pinned in
      // FixedPointSpec over randomized magnitudes.
      val y = d * 1e10
      if (math.abs(y) < 4.5e15) {
        val fl = math.floor(y)
        val frac = y - fl
        if (math.abs(frac - 0.5) > 4.0 * math.ulp(y) + 1e-12)
          return java.lang.Long.valueOf(fl.toLong + (if (frac > 0.5) 1L else 0L))
      }
      val u = try {
        java.math.BigDecimal.valueOf(d)
          .setScale(10, java.math.RoundingMode.HALF_UP)
          .unscaledValue().longValueExact()
      } catch {
        case _: ArithmeticException =>
          throw new ArithmeticException(
            s"unscaled10: |$d| too large for scale-10 fixed point (needs |d| < ~9.2e8)")
      }
      java.lang.Long.valueOf(u)
    }
}

/** `unscaled10(d)` — scale-10 fixed-point digits of a double, as a long. */
case class Unscaled10(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(DoubleType)
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "unscaled10"
  override protected def nullSafeEval(input: Any): Any =
    FixedPoint.unscaled10(input.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val u = ctx.freshName("u10")
    nullSafeCodeGen(ctx, ev, c => s"""
      java.lang.Long $u = graft.functions.FixedPoint.unscaled10($c);
      if ($u == null) { ${ev.isNull} = true; } else { ${ev.value} = $u.longValue(); }
    """)
  }
  override protected def withNewChildInternal(newChild: Expression): Unscaled10 =
    copy(child = newChild)
}
