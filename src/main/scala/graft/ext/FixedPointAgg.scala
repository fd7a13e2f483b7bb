package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Shared fixed-point execution of the repo's exact-decimal moment-cell
  * aggregation (`round(sum(cast(p as decimal(28,10))), 6)::double` per
  * (i, j) cell — [[LinearProbe.moments]], [[Irls.momentCells]]): sums the
  * scale-10 digits ([[graft.functions.FixedPoint.unscaled10]] — identical
  * per-row rounding to the decimal cast) as ONE long sum per cell, with a
  * per-cell overflow CERTIFICATE (`n·max|u| < 9.0e18`, a sound |Σu| bound
  * with margin under 2^63 ≈ 9.22e18 — violations raise, never wrap), then
  * re-applies the half-up-at-6 + double cast in integer arithmetic.
  * Decimal addition is exact integer addition of unscaled digits, so the
  * result is bit-identical to the decimal form whenever the certificate
  * holds; equality is pinned in LinearProbeSpec/IrlsSpec and the consumers'
  * DuckDB oracles (which mirror the DECIMAL form verbatim) hash-pin it
  * cross-engine at every gate scale. Measured ×5.4 on x_probe_moments (the
  * decimal aggregation was ~80% of the entry; OPTIMIZATION_r15.md, ch. 3).
  */
object FixedPointAgg {

  /** `(i, j, v)` with `v = round(Σ dec10(p), 6)::double` over `rows`
    * shaped `(i int, j int, p double)`.
    */
  def cellsRound6(rows: DataFrame): DataFrame =
    rows
      .select(col("i"), col("j"),
        graft.functions.GraftFunctions.unscaled10(col("p")).as("u"))
      .groupBy("i", "j")
      .agg(sum(col("u")).as("su"), count(col("u")).as("n"),
        max(abs(col("u"))).as("ma"))
      .select(col("i"), col("j"),
        // round(S, 6) for S = su/1e10: half-up divide the unscaled sum by
        // 1e4 (sign-split so `div`'s truncation is half-up in magnitude),
        // then the exact double division by 1e6 (T6 < 2^53, so cast +
        // divide IS the correctly-rounded decimal→double value)
        when(col("su").isNull, lit(null).cast("double"))
          .when(col("n").cast("double") * col("ma").cast("double") < lit(9.0e18),
            expr("""cast(IF(su >= 0, (su + 5000) div 10000,
                            -((-su + 5000) div 10000)) as double) / 1000000.0"""))
          .otherwise(raise_error(format_string(
            "moment cells: fixed-point certificate overflow at (%d,%d) — use the decimal form",
            col("i"), col("j"))))
          .as("v"))
}
