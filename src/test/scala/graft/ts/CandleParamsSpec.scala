package graft.ts

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** Bad candle parameters are refused on the driver, before any Spark job:
  * an unknown `date_trunc` unit would put every row of a series into one
  * NULL bucket, a width of 0 divides by zero inside the job, and a
  * negative width gives buckets that start after their events. */
class CandleParamsSpec extends SparkSpec {

  private def refusedWithoutJobs(cases: (String, () => DataFrame)*): Unit = {
    val group = "graft-candle-params"
    spark.sparkContext.setJobGroup(group, group)
    try {
      for ((what, run) <- cases) {
        val e = intercept[IllegalArgumentException](run())
        assert(e.getMessage.contains(what), e.getMessage)
      }
      assert(spark.sparkContext.statusTracker.getJobIdsForGroup(group).isEmpty)
    } finally spark.sparkContext.clearJobGroup()
  }

  private lazy val events = graft.Tables(spark, sf("sf0.001")).events
  private lazy val hourly = TimeSeries.candles(events, "hour")

  test("candles and vwap refuse an unknown unit") {
    val ev = events
    refusedWithoutJobs(
      "'hours'" -> (() => TimeSeries.candles(ev, "hours")),
      "'hours'" -> (() => TimeSeries.vwap(ev, "hours", "value", "value")),
      "'fortnight'" -> (() => TimeSeries.candles(ev, "fortnight")))
  }

  test("bucket widths and spine steps <= 0 are refused") {
    val (ev, c) = (events, hourly)
    refusedWithoutJobs(
      "got 0 s" -> (() => TimeSeries.candlesFixed(ev, 0)),
      "got -900 s" -> (() => TimeSeries.candlesFixed(ev, -900)),
      "got 0 s" -> (() => TimeSeries.resample(c, 0)),
      "got -14400 s" -> (() => TimeSeries.resample(c, -14400)),
      "got 0 s" -> (() => TimeSeries.spine(c, 0)),
      "got -3600 s" -> (() => TimeSeries.gapDetect(c, -3600)),
      "got 0 s" -> (() => TimeSeries.gapFill(c, 0)),
      "got -1 s" -> (() => TimeSeries.gapFillInterp(c, -1)))
  }

  test("the smallest valid width still works") {
    import org.apache.spark.sql.functions.sum
    assert(TimeSeries.candlesFixed(events, 1).agg(sum("trades")).head().getLong(0) == events.count())
  }
}
