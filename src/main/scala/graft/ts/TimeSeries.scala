package graft.ts

import graft.functions.ParamLiteral
import org.apache.spark.sql.{DataFrame, RelationalGroupedDataset}
import org.apache.spark.sql.catalyst.expressions.{Literal, TruncTimestamp}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}

/** Time-series operators over an event stream — the Spark-first
  * re-expression of the reference warehouse's trades→candles pipeline
  * (reference v0 snapshot is empty; semantics per SURVEY.md §1.1/§2.4).
  *
  * Input contract: a DataFrame with a timestamp column, a series-key column
  * (trading pair / event_type), and a numeric value column.
  *
  * Scale notes (100 TB): every operator here is a single hash-aggregate or
  * a series-partitioned window — one shuffle keyed on (series[, bucket]),
  * map-side partial aggregation for the candle pass, and no driver-side
  * iteration anywhere. Windows partition by series so per-partition state
  * is bounded by one series' bucket count, not the table size. Gap
  * detection materializes only (series, min, max) — 1 row per series —
  * before exploding the calendar spine, so the spine cost is
  * O(#series × #buckets), independent of raw event count.
  */
object TimeSeries {

  /** Refuses, before any Spark job, a unit `date_trunc` does not know (it
    * would return NULL for every bucket rather than fail, putting each
    * series' rows into one NULL bucket). */
  private[ts] def checkUnit(unit: String): Unit =
    require(TruncTimestamp(Literal(unit), Literal(0L, TimestampType), Some("UTC")).eval() != null,
      s"unknown candle unit '$unit'")

  /** Refuses a bucket width or spine step <= 0 before any Spark job: 0
    * divides by zero inside the job (ANSI mode), and a negative width
    * gives buckets that start after their events (`pmod` by a negative). */
  private def checkWidth(seconds: Long): Unit =
    require(seconds > 0, s"bucket width must be positive, got $seconds s")

  /** OHLCV candles per (bucket, series) at a calendar `unit` ("hour",
    * "day", ...). open/close use min_by/max_by on ts — order-safe, unlike
    * first()/last() which depend on partition order. volume is the raw
    * (unrounded) sum so that hierarchical resampling stays exact; round at
    * the presentation edge. */
  def candles(events: DataFrame, unit: String, seriesCol: String = "event_type",
              tsCol: String = "ts", valCol: String = "value"): DataFrame = {
    checkUnit(unit)
    ohlcv(events.groupBy(date_trunc(unit, col(tsCol)).as("bucket"), col(seriesCol).as("series")),
      tsCol, valCol)
  }

  /** The OHLCV candle aggregate over each group of `g`: open, high, low,
    * close, volume, trades. The one definition behind the batch candles,
    * [[candlesFixed]] and the streaming candle queries, so their plans
    * stay the same. */
  def ohlcv(g: RelationalGroupedDataset, tsCol: String = "ts", valCol: String = "value"): DataFrame =
    g.agg(
      min_by(col(valCol), col(tsCol)).as("open"),
      max(col(valCol)).as("high"),
      min(col(valCol)).as("low"),
      max_by(col(valCol), col(tsCol)).as("close"),
      sum(col(valCol)).as("volume"),
      count(lit(1)).as("trades"))

  /** Fixed-width bucket start for widths date_trunc can't express (15 min,
    * 4 h, ...). Integer µs arithmetic — exact, no double rounding.
    *
    * The width is a [[graft.functions.ParamLiteral]], a parameter of the
    * generated code rather than an inlined constant, so every width of one
    * read kind runs the same compiled stage. */
  def bucketStart(ts: org.apache.spark.sql.Column, seconds: Long): org.apache.spark.sql.Column = {
    checkWidth(seconds)
    val us = ParamLiteral(seconds * 1000000L, LongType)
    // integer arithmetic only: ns-epoch µs values are near double's
    // 53-bit mantissa edge, so no float division here
    timestamp_micros(unix_micros(ts) - pmod(unix_micros(ts), us))
  }

  /** OHLCV candles at a fixed-width bucket of `seconds` (15 min etc.). */
  def candlesFixed(events: DataFrame, seconds: Long, seriesCol: String = "event_type",
                   tsCol: String = "ts", valCol: String = "value"): DataFrame =
    ohlcv(events.groupBy(bucketStart(col(tsCol), seconds).as("bucket"), col(seriesCol).as("series")),
      tsCol, valCol)

  /** Hierarchical resample of candles to a coarser fixed-width bucket of
    * `seconds` (e.g. 4h = 14400). open = open of earliest child candle,
    * close = close of latest; exact because child bucket starts are unique
    * within a parent bucket. Re-aggregates candles, not raw events — at
    * 100 TB this reads the (much smaller) candle layer. */
  def resample(candles: DataFrame, seconds: Long): DataFrame =
    candles
      .groupBy(bucketStart(col("bucket"), seconds).as("rbucket"), col("series"))
      .agg(
        min_by(col("open"), col("bucket")).as("open"),
        max(col("high")).as("high"),
        min(col("low")).as("low"),
        max_by(col("close"), col("bucket")).as("close"),
        sum(col("volume")).as("volume"),
        sum(col("trades")).as("trades"))
      .withColumnRenamed("rbucket", "bucket")

  /** Per-series calendar spine: one row per (series, bucket) from that
    * series' min to max bucket. The sequence() explode happens on the
    * 1-row-per-series aggregate, never on raw data. */
  def spine(candles: DataFrame, intervalSeconds: Long): DataFrame = {
    checkWidth(intervalSeconds)
    candles
      .groupBy(col("series"))
      .agg(min(col("bucket")).as("lo"), max(col("bucket")).as("hi"))
      .select(col("series"),
        explode(sequence(col("lo"), col("hi"),
          expr(s"INTERVAL $intervalSeconds SECONDS"))).as("bucket"))
  }

  /** Buckets with no data: spine ANTI JOIN present buckets — the
    * reference's missing-candle validation (SURVEY.md §2.4). */
  def gapDetect(candles: DataFrame, intervalSeconds: Long): DataFrame =
    spine(candles, intervalSeconds)
      .join(candles.select("series", "bucket"), Seq("series", "bucket"), "left_anti")

  /** Gap fill with forward fill: every spine bucket gets the last known
    * close carried forward (volume 0 for filled rows) — the reference's
    * gap-repair step. last(ignoreNulls) over a series-partitioned window;
    * state per partition is one value. */
  def gapFill(candles: DataFrame, intervalSeconds: Long): DataFrame = {
    val w = Window.partitionBy(col("series")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, 0)
    spine(candles, intervalSeconds)
      .join(candles, Seq("series", "bucket"), "left")
      .withColumn("was_gap", col("close").isNull)
      .withColumn("close_filled", last(col("close"), ignoreNulls = true).over(w))
      .withColumn("volume", coalesce(col("volume"), lit(0.0)))
  }

  /** Gap fill with LINEAR INTERPOLATION between the surrounding closes —
    * the chart-serving repair for sparse series (forward fill holds a
    * stale value; interpolation draws the line). Two series-partitioned
    * windows (backward last + forward first, each with its bucket), then
    * pure arithmetic; edge gaps (before the first / after the last close)
    * fall back to the one-sided neighbor. Window state is one value per
    * direction — same scale shape as [[gapFill]]. */
  def gapFillInterp(candles: DataFrame, intervalSeconds: Long): DataFrame = {
    val wb = Window.partitionBy(col("series")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wf = Window.partitionBy(col("series")).orderBy(col("bucket"))
      .rowsBetween(0, Window.unboundedFollowing)
    spine(candles, intervalSeconds)
      .join(candles, Seq("series", "bucket"), "left")
      .withColumn("was_gap", col("close").isNull)
      .withColumn("pc", last(col("close"), ignoreNulls = true).over(wb))
      .withColumn("pb", last(when(col("close").isNotNull, col("bucket")),
        ignoreNulls = true).over(wb))
      .withColumn("nc", first(col("close"), ignoreNulls = true).over(wf))
      .withColumn("nb", first(when(col("close").isNotNull, col("bucket")),
        ignoreNulls = true).over(wf))
      .withColumn("close_interp",
        when(!col("was_gap"), col("close"))
          .when(col("pc").isNotNull && col("nc").isNotNull,
            col("pc") + (col("nc") - col("pc")) *
              (unix_timestamp(col("bucket")) - unix_timestamp(col("pb"))).cast("double") /
              (unix_timestamp(col("nb")) - unix_timestamp(col("pb"))).cast("double"))
          .otherwise(coalesce(col("pc"), col("nc"))))
  }

  /** Volume-weighted average price per (bucket, series): sum(p·v)/sum(v). */
  def vwap(events: DataFrame, unit: String, priceCol: String, volCol: String,
           seriesCol: String = "event_type", tsCol: String = "ts"): DataFrame = {
    checkUnit(unit)
    events
      .groupBy(date_trunc(unit, col(tsCol)).as("bucket"), col(seriesCol).as("series"))
      // NULL vwap for an all-zero-volume bucket (ANSI mode would throw)
      .agg((sum(col(priceCol) * col(volCol)) /
        when(sum(col(volCol)) =!= 0.0, sum(col(volCol)))).as("vwap"),
        sum(col(volCol)).as("total_vol"))
  }

  /** Z-score outliers per series — the reference's sanity validation.
    * Group stats via one aggregate then a broadcast-friendly join (the agg
    * side is #series rows), rather than an unbounded window over raw data. */
  def zscoreOutliers(events: DataFrame, threshold: Double,
                     seriesCol: String = "event_type", valCol: String = "value"): DataFrame = {
    val stats = events.groupBy(col(seriesCol)).agg(
      avg(col(valCol)).as("mu"), stddev_samp(col(valCol)).as("sigma"))
    events.join(broadcast(stats), seriesCol)
      // sigma = 0 (constant series) or NULL (singleton): no outliers by
      // definition — and under Spark 4's default ANSI mode an unguarded
      // division by zero THROWS, killing the whole job
      .withColumn("z",
        when(col("sigma") > 0, (col(valCol) - col("mu")) / col("sigma")))
      .filter(abs(col("z")) > threshold)
  }

  /** As-of join: for each left row, the most recent right row with
    * rightTs <= leftTs within the same key — the classic tsdb alignment op
    * Spark lacks natively. Implemented with the union-tag trick: tag both
    * sides, sort by (key, ts, side) with the right side first on ties, and
    * carry right-side payload forward with last(ignoreNulls). One shuffle
    * on the key — no per-row range probe, no broadcast of the big side;
    * scales as a single series-partitioned sort (SURVEY.md §2.3). */
  def asofJoin(left: DataFrame, right: DataFrame, key: String,
               leftTs: String, rightTs: String, payloadCols: Seq[String]): DataFrame = {
    val lCols = left.columns
    val l = left
      .withColumn("_ts", col(leftTs))
      .withColumn("_side", lit(1))
      .select(Seq(col(key).as("_key"), col("_ts"), col("_side")) ++
        lCols.map(c => col(c)) ++ payloadCols.map(c => lit(null).cast(right.schema(c).dataType).as(s"_p_$c")): _*)
    val r = right
      .withColumn("_ts", col(rightTs))
      .withColumn("_side", lit(0))
      .select(Seq(col(key).as("_key"), col("_ts"), col("_side")) ++
        lCols.map(c => lit(null).cast(left.schema(c).dataType).as(c)) ++
        payloadCols.map(c => col(c).as(s"_p_$c")): _*)
    val w = Window.partitionBy(col("_key")).orderBy(col("_ts"), col("_side"))
      .rowsBetween(Window.unboundedPreceding, 0)
    l.unionByName(r)
      .select((lCols.map(col) :+ col("_side")) ++
        payloadCols.map(c => last(col(s"_p_$c"), ignoreNulls = true).over(w).as(c)): _*)
      .filter(col("_side") === 1)
      .drop("_side")
  }

  /** Sessionization: split each user's event sequence at inactivity gaps
    * longer than `gapSeconds`; one series-partitioned window pass (lag +
    * running sum of session-start flags). */
  def sessionize(events: DataFrame, gapSeconds: Long, userCol: String = "user_id"): DataFrame = {
    val w = Window.partitionBy(col(userCol)).orderBy(col("ts"), col("event_id"))
    // µs integer arithmetic — exact, and matches the DuckDB oracle's
    // epoch_us (unix_timestamp() would truncate to seconds)
    events
      .withColumn("_prev", lag(col("ts"), 1).over(w))
      .withColumn("_new_session",
        when(col("_prev").isNull ||
          unix_micros(col("ts")) - unix_micros(col("_prev")) > gapSeconds * 1000000L, 1).otherwise(0))
      .withColumn("session_id", sum(col("_new_session")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .drop("_prev", "_new_session")
  }
}
