package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Shared helpers for the oracle-checked query registry.
  *
  * Cross-engine float determinism: a `sum` over doubles is order-dependent,
  * and Spark's partial-aggregate order differs run to run and engine to
  * engine — a raw `sum(double)` can never hash-match DuckDB. Every SUM/AVG
  * in the registry therefore goes through an exact DECIMAL(28,10) cast
  * (per-row double→decimal conversion is order-independent; decimal addition
  * is exact and associative), and converts back to double only at the end.
  * The oracle SQL mirrors the exact same casts. Per-row double arithmetic
  * (e.g. `price * (1 - discount)`) is bit-identical IEEE in both engines and
  * needs no special handling.
  */
object Util {
  private val Dec = DecimalType(28, 10)

  /** Exact decimal view of a double column (for associative aggregation). */
  def dec(c: Column): Column = c.cast(Dec)

  /** Order-insensitive, engine-exact sum of a double column, as double.
    *
    * Three-step dance, mirrored exactly in [[sqlDsum]]:
    *  1. exact decimal sum (associative — partial-aggregate order can't
    *     change it);
    *  2. `round(_, 2)` — both Spark and DuckDB round() are HALF_UP (DuckDB's
    *     decimal CAST is half-even, so round() it must be);
    *  3. cast to double — exact for scale-2 decimals below 2^53/100, whereas
    *     a scale-10 decimal→double conversion is NOT correctly rounded in
    *     DuckDB and diverges in the last ulp (observed empirically).
    *
    * Execution (round 15): the decimal steps above stay the DEFINITIONAL
    * semantics (and the oracle SQL), but Spark's decimal aggregation pays
    * a string-based BigDecimal cast, a 16-byte buffer write and a
    * BigDecimal add PER ROW (the sum buffer's precision 38 is past the
    * compact-long cutoff) — measured ~80% of the whole moments entry and
    * the dominant share of every dsum-heavy query (OPTIMIZATION_r15.md,
    * change 3; BENCH.md round 15). [[dsumFx]] sums the SAME scale-10
    * digits as two plain-long sums (quotient/remainder by 1e9), rebuilds
    * the exact decimal total per GROUP, and applies the identical
    * `round(·, 2).cast(double)` tail — bit-identical by construction
    * (decimal addition is integer addition of unscaled digits), with
    * per-group overflow CERTIFICATES that raise rather than ever emit a
    * wrapped sum. Equality is pinned bitwise in UtilFixedPointSpec; every
    * registry consumer keeps its oracle hash.
    */
  def dsum(c: Column): Column = fxRounded(c, 2).cast("double")

  /** Engine-exact average: exact decimal sum, rounded at scale 6 (a no-op
    * for inputs with ≤6 decimals, but pins the conversion), cast double,
    * divided by the count — identical IEEE division on both engines.
    * Fixed-point execution, decimal semantics — see [[dsum]].
    */
  def davg(c: Column): Column = fxRounded(c, 6).cast("double") / count(c)

  /** The definitional decimal forms (what [[sqlDsum]]/[[sqlDavg]] mirror);
    * kept as the correctness pins for the fixed-point execution.
    */
  def dsumDecimal(c: Column): Column = round(sum(dec(c)), 2).cast("double")
  def davgDecimal(c: Column): Column =
    round(sum(dec(c)), 6).cast("double") / count(c)

  /** `round(Σ dec(c), scale)` as an exact decimal, computed fixed-point:
    * per row the scale-10 digits `u` ([[graft.functions.FixedPoint]] —
    * identical rounding to `cast(c as decimal(28,10))`), split by 2^30
    * (`q = u >> 30` floor-div, `r = u & (2^30−1)` ∈ [0, 2^30) — an exact
    * two's-complement identity, no division), two plain-long sums; per
    * group the exact decimal total
    * `S = Σq·0.1073741824 + Σr·0.0000000001` (both factors exact scale-10
    * decimals, 2^30/1e10 and 1e-10; precisions stay under 38, so no
    * silent precision-loss rescale) and the ORIGINAL `round(S, scale)`
    * tail. Decimal addition is integer addition of unscaled digits, so
    * `S == sum(dec(c))` exactly whenever the long sums cannot overflow —
    * and each group carries that CERTIFICATE: `n ≤ 8.0e9` bounds
    * Σr < 8.6e18, and `n·(max|u|>>30 + 1) < 9.0e18` bounds |Σq| (both
    * with margin under 2^63 ≈ 9.22e18); a violation raises instead of
    * ever emitting a wrapped sum (route such a query through
    * [[dsumDecimal]]). Note the window the split buys: Σq carries the
    * HIGH digits, so the guaranteed-exact range is ~9·10¹⁷ summed
    * absolute VALUE per group (UtilFixedPointSpec pins equality at the
    * per-row 9·10⁸ ceiling × 20 rows — beyond any monetary sum this
    * registry or a 100 TB TPC-H would produce), or ≥ 8·10⁹ rows per
    * group regardless of magnitude.
    */
  private def fxRounded(c: Column, scale: Int): Column = {
    val u = graft.functions.GraftFunctions.unscaled10(c)
    val qs = sum(shiftright(u, 30))
    val rs = sum(u.bitwiseAND(lit(1073741823L)))
    val n = count(u)
    val ma = max(abs(u))
    val qPart = qs.cast(DecimalType(20, 0)) * lit(BigDecimal("0.1073741824"))
    val rPart = rs.cast(DecimalType(19, 0)) * lit(BigDecimal("0.0000000001"))
    when(qs.isNull, lit(null).cast(DecimalType(32, scale)))
      .when(n <= lit(8000000000L) &&
          n.cast("double") * (shiftright(ma, 30).cast("double") + lit(1.0)) < lit(9.0e18),
        round(qPart + rPart, scale))
      .otherwise(raise_error(lit(
        "dsum/davg: fixed-point certificate overflow — use dsumDecimal/davgDecimal for this query")))
  }

  /** The DuckDB-side spelling of [[dsum]] for oracle SQL strings. */
  def sqlDsum(expr: String): String =
    s"CAST(round(sum(CAST($expr AS DECIMAL(28,10))), 2) AS DOUBLE)"

  def sqlDavg(expr: String): String =
    s"CAST(round(sum(CAST($expr AS DECIMAL(28,10))), 6) AS DOUBLE) / count($expr)"

  /** DuckDB counts are HUGEINT; Spark's are BIGINT — always cast. */
  def sqlCount(star: String = "*"): String = s"CAST(count($star) AS BIGINT)"

  /** DuckDB emulation of Spark's `initcap` (DuckDB 1.0 has no initcap):
    * split on single spaces, uppercase first char + lowercase rest, re-join.
    * Matches initcap for single-space-separated text (the only shape in the
    * testdata).
    */
  def sqlInitcap(expr: String): String =
    s"list_aggr(list_transform(string_split($expr, ' '), x -> upper(x[1:1]) || lower(x[2:])), 'string_agg', ' ')"
}
