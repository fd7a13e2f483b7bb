package graft

import org.apache.spark.sql.SparkSession

/** One place for the engine's session defaults — every main and the test
  * base build through here, so session-level requirements are uniform and
  * table loaders never mutate conf (a global side effect from an accessor,
  * flagged in round 1):
  *  - ANSI off: the reference's coerce-to-null semantics (bad dates → NULL,
  *    not errors) are session-wide behavior, not per-expression.
  *  - UTC + fixed shuffle partitions: deterministic cross-engine compares.
  *  - `nanosAsLong`: `events.ts` is nanosecond-precision parquet, which
  *    Spark 4 refuses by default; reading it as a raw long (converted to µs
  *    timestamps in Tables.events) is a scan-time property of the session.
  */
object GraftSession {
  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
}
