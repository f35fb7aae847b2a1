package graft.plans

import java.nio.file.Files
import java.time.LocalDateTime

import graft.{SparkSpec, Tables}
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.debug.codegenStringSeq
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** The `LongType` branch of `Tables.eventsRange`/`withNanosTs`: fixtures
  * whose events.ts is parquet TIMESTAMP(NANOS), read as int64 nanos. The
  * shipped fixtures store timestamp[us], so this writes its own small
  * nanos file and checks the range read against `events` filtered by the
  * same bounds, for rows, for pushdown to the raw column, and for one
  * compiled stage across ranges. */
class EventsRangeNanosSpec extends SparkSpec {

  private lazy val dir: String = {
    val d = Files.createTempDirectory("graft_nanos").toString
    val schema = MessageTypeParser.parseMessageType(
      """message events {
        |  required int64 event_id;
        |  required int64 ts (TIMESTAMP(NANOS,false));
        |  required binary event_type (STRING);
        |  required double value;
        |}""".stripMargin)
    val w = ExampleParquetWriter.builder(new Path(s"$d/events.parquet/part-0.parquet"))
      .withType(schema).build()
    val g = new SimpleGroupFactory(schema)
    val t0 = nanos("2024-01-02 00:00:00")
    val us = 1000L
    // on both bounds of [01-02, 01-03), one µs either side, and inside
    Seq(t0 - us, t0, t0 + us, t0 + 43200L * 1000000L * us,
        nanos("2024-01-03 00:00:00") - us, nanos("2024-01-03 00:00:00"),
        nanos("2024-01-04 12:00:00")).zipWithIndex.foreach { case (ts, i) =>
      w.write(g.newGroup().append("event_id", i.toLong).append("ts", ts)
        .append("event_type", if (i % 2 == 0) "a" else "b").append("value", i * 1.5))
    }
    w.close()
    d
  }

  private def nanos(s: String): Long = {
    val t = LocalDateTime.parse(s.replace(' ', 'T')).toInstant(java.time.ZoneOffset.UTC)
    t.getEpochSecond * 1000000000L + t.getNano
  }

  private def rows(df: DataFrame) = df.orderBy("event_id").collect().toSeq

  test("the fixture really takes the nanos (LongType) branch") {
    val t = Tables(spark, dir)
    t.events.count() // sets the nanosAsLong read conf
    assert(spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType == LongType)
  }

  test("eventsRange equals events filtered by the same bounds") {
    val t = Tables(spark, dir)
    for ((from, until) <- Seq(
           ("2024-01-02", "2024-01-03"),
           ("2024-01-02 00:00:00", "2024-01-02 12:00:00"),
           ("2024-01-01", "2024-01-05"),
           ("2024-01-02", "2024-01-02"),
           ("2024-01-06", "2024-01-07"))) {
      val want = t.events.filter(col("ts") >= lit(from).cast("timestamp") &&
        col("ts") < lit(until).cast("timestamp"))
      assert(rows(t.eventsRange(from, until)) == rows(want), s"[$from, $until)")
    }
    assert(rows(t.eventsRange("2024-01-02", "2024-01-03")).map(_.getAs[Long]("event_id")) ==
      Seq(1L, 2L, 3L, 4L))
  }

  test("the range reaches the raw nanos column as pushed filters") {
    val df = Tables(spark, dir).eventsRange("2024-01-02", "2024-01-03").select(col("event_id"))
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val pushed = plan.collect { case s: FileSourceScanExec => s }.head.metadata
      .getOrElse("PushedFilters", "")
    assert(pushed.contains(s"GreaterThanOrEqual(ts,${nanos("2024-01-02 00:00:00")})") &&
      pushed.contains(s"LessThan(ts,${nanos("2024-01-03 00:00:00")})"), s"PushedFilters=$pushed")
  }

  test("two ranges run identical whole-stage code") {
    val t = Tables(spark, dir)
    def codes(from: String, until: String): Seq[String] = {
      val df = graft.ts.TimeSeries.candles(t.eventsRange(from, until), "hour")
      df.collect()
      codegenStringSeq(df.queryExecution.executedPlan).map(_._2).sorted
    }
    val a = codes("2024-01-02", "2024-01-03")
    assert(a.nonEmpty && a == codes("2024-01-01 06:00:00", "2024-01-04 18:00:00"))
  }
}
