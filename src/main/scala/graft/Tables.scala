package graft

import java.time.LocalDateTime

import graft.functions.ParamLiteral
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.DateTimeUtils

/** Lazy handles to the warehouse's base tables (one parquet dataset each).
  *
  * Schemas per FIXTURES.md (driver-generated; reference v0 snapshot is
  * empty, see SURVEY.md §0). At 100 TB these would be directory-partitioned
  * datasets (e.g. events partitioned by date) — the read path is identical:
  * `spark.read.parquet(dir)` + Catalyst partition pruning. Filters written
  * against key columns push down to parquet row-group stats. A `ts` filter
  * does only on some fixture generations; see [[eventsRange]].
  */
final case class Tables(spark: SparkSession, dir: String) {
  /** One DataFrame OBJECT per (session, dir, table) — round 16. The
    * fixture dirs are immutable for a session's lifetime, so re-reading
    * them buys nothing, and every graded query of a session reads the
    * same scan. Held in the session memo, [[Shared.memo]]. */
  private def t(name: String): DataFrame =
    Shared.memo(spark, dir, s"table:$name")(spark.read.parquet(s"$dir/$name.parquet"))

  /** events.ts read, schema-driven across fixture generations: early
    * fixtures store parquet TIMESTAMP(NANOS) (Spark's vectorized reader
    * rejects it → read nanos as long via the legacy conf and convert
    * exactly; values verified µs-aligned), round-8 fixtures store plain
    * timestamp[us] (isAdjustedToUTC=false → Spark infers TIMESTAMP_NTZ;
    * wall clock IS the UTC instant, so cast to TIMESTAMP under the UTC
    * session zone pinned below). Confs are set lazily here so they also
    * hold on the driver-provided session used by SparkEntry.entry. */
  private def withNanosTs(name: String, tsCol: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // NTZ→TIMESTAMP cast reads the session zone; every graded surface
    // (Verify, Bench, tests) is UTC — pin it for sessions that didn't.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = t(name)
    raw.schema(tsCol).dataType match {
      // integer `div`, not `/`: ns-epoch exceeds double's 53-bit mantissa
      case LongType => raw.withColumn(tsCol, expr(s"timestamp_micros($tsCol div 1000)"))
      case TimestampNTZType => raw.withColumn(tsCol, col(tsCol).cast(TimestampType))
      case _ => raw
    }
  }

  /** The tsdb core read path: time-range scan over events with the range
    * predicate applied to the RAW column, BEFORE the µs conversion — a
    * filter on the converted nanos column is opaque to parquet pushdown
    * (PushedFilters shows only IsNotNull), while this formulation puts the
    * range in PushedFilters. Whether parquet then skips row groups depends
    * on the fixture generation: Spark 4.1's `ParquetFilters` builds a
    * row-group predicate for an INT64 column only when it carries no
    * annotation (a plain long, as the ScaleDemo shard copies write nanos)
    * or a `timestamp(isAdjustedToUTC = true)` one. The NTZ `timestamp[us]`
    * fixtures (sf0.001–sf0.1, perfbench's events) are annotated
    * `isAdjustedToUTC = false`, and the early TIMESTAMP(NANOS) fixtures,
    * read as long, keep their NANOS annotation: both scan every row group.
    * `from`/`until` are "yyyy-MM-dd[ HH:mm:ss]" UTC, half-open.
    *
    * The bounds are [[graft.functions.ParamLiteral]]s: parameters of the
    * generated code rather than constants inlined into it, so reads over
    * different ranges reuse one compiled, JIT-warm stage instead of
    * compiling new source per request. They are still `Literal`s to the
    * optimizer, so the range stays in the scan's PushedFilters. */
  def eventsRange(from: String, until: String): DataFrame = {
    def micros(s: String): Long = DateTimeUtils.localDateTimeToMicros(
      LocalDateTime.parse((if (s.length == 10) s + " 00:00:00" else s).replace(' ', 'T')))
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{DataType, LongType, TimestampNTZType, TimestampType}
    val raw = t("events")
    def range(scale: Long, dt: DataType): DataFrame =
      raw.filter(col("ts") >= ParamLiteral(micros(from) * scale, dt) &&
        col("ts") < ParamLiteral(micros(until) * scale, dt))
    raw.schema("ts").dataType match {
      case LongType =>
        range(1000L, LongType).withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType =>
        // bounds typed NTZ so the comparison stays on the RAW column
        // (pushdown-eligible); the cast to TIMESTAMP happens above it
        range(1L, TimestampNTZType).withColumn("ts", col("ts").cast(TimestampType))
      case _ => range(1L, TimestampType)
    }
  }

  def region: DataFrame     = t("region")
  def nation: DataFrame     = t("nation")
  def customer: DataFrame   = t("customer")
  def supplier: DataFrame   = t("supplier")
  def part: DataFrame       = t("part")
  def orders: DataFrame     = t("orders")
  def lineitem: DataFrame   = t("lineitem")
  def events: DataFrame     = withNanosTs("events", "ts")
  def documents: DataFrame  = t("documents")
  def embeddings: DataFrame = t("embeddings")
}
