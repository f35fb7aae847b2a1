package graft.ts

import java.nio.file.Files
import java.time.LocalDateTime

import graft.{SparkSpec, Tables}
import graft.functions.ParamLiteral
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.debug.codegenStringSeq
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

/** The serving path binds its per-request values (range bounds, bucket
  * widths) as parameters of the generated code: two requests of one kind
  * must run the same whole-stage source, so the second one hits the
  * codegen cache and a JIT-warm class. The values
  * must still reach the parquet scan as pushed filters and give the same
  * rows as the inlined literals they replace. */
class CodegenReuseSpec extends SparkSpec {

  private def stageCodes(plan: SparkPlan): Seq[String] = {
    val codes = codegenStringSeq(plan).map(_._2).sorted
    assert(codes.nonEmpty, s"no whole-stage code in\n$plan")
    codes
  }

  private def stageCodes(df: DataFrame): Seq[String] = {
    df.collect()
    stageCodes(df.queryExecution.executedPlan)
  }

  private def pushed(df: DataFrame): String = {
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    plan.collect { case s: FileSourceScanExec => s }.head.metadata.getOrElse("PushedFilters", "")
  }

  private lazy val t = Tables(spark, sf("sf0.001"))

  test("(a) reads over different ranges and widths run identical whole-stage code") {
    def candles(from: String, until: String) = TimeSeries.candles(t.eventsRange(from, until), "hour")
    assert(stageCodes(candles("2024-01-02", "2024-01-03")) ==
      stageCodes(candles("2024-01-05 06:00:00", "2024-01-09 18:00:00")))

    def fixed(from: String, w: Long) = TimeSeries.candlesFixed(t.eventsRange(from, "2024-01-12"), w)
    assert(stageCodes(fixed("2024-01-02", 900)) == stageCodes(fixed("2024-01-04", 1800)))

    def resample(from: String, w: Long) =
      TimeSeries.resample(TimeSeries.candles(t.eventsRange(from, "2024-01-12"), "hour"), w)
    assert(stageCodes(resample("2024-01-02", 14400)) == stageCodes(resample("2024-01-03", 21600)))
  }

  test("(b) the bound range is still in the scan's PushedFilters") {
    val p = pushed(t.eventsRange("2024-01-02", "2024-01-03").select(col("event_id")))
    assert(p.contains("GreaterThanOrEqual(ts,2024-01-02T00:00)") &&
      p.contains("LessThan(ts,2024-01-03T00:00)"), s"PushedFilters=$p")
  }

  test("(c) rows equal the inlined-literal form at the range edges") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_edges").toString
    def at(s: String) = LocalDateTime.parse(s.replace(' ', 'T'))
    Seq(
      (1L, at("2024-01-02 00:00:00"), "a", 1.0), // exactly at from: kept
      (2L, at("2024-01-02 11:59:59"), "a", 2.0),
      (3L, at("2024-01-02 23:59:59.999999"), "b", 3.0),
      (4L, at("2024-01-03 00:00:00"), "b", 4.0), // exactly at until: dropped
      (5L, at("2024-01-01 23:59:59.999999"), "a", 5.0))
      .toDF("event_id", "ts", "event_type", "value")
      .write.parquet(s"$dir/events.parquet")
    val edges = Tables(spark, dir)
    def inlined(from: String, until: String): DataFrame =
      spark.read.parquet(s"$dir/events.parquet")
        .filter(col("ts") >= expr(s"TIMESTAMP_NTZ '$from'") && col("ts") < expr(s"TIMESTAMP_NTZ '$until'"))
        .withColumn("ts", col("ts").cast(TimestampType))
    def ids(df: DataFrame): Seq[Long] = df.orderBy("event_id").collect().map(_.getAs[Long]("event_id")).toSeq
    for ((from, until, want) <- Seq(
           ("2024-01-02 00:00:00", "2024-01-03 00:00:00", Seq(1L, 2L, 3L)),
           ("2024-01-02 11:59:59", "2024-01-02 12:00:00", Seq(2L)),
           ("2024-01-02 00:00:00", "2024-01-02 00:00:00", Nil), // from == until
           ("2024-01-05 00:00:00", "2024-01-06 00:00:00", Nil), // no event in range
           ("2024-01-03 00:00:00", "2024-01-02 00:00:00", Nil))) { // from > until
      val got = edges.eventsRange(from, until)
      assert(ids(got) == want, s"[$from, $until)")
      assert(got.orderBy("event_id").collect().toSeq ==
        inlined(from, until).orderBy("event_id").collect().toSeq, s"[$from, $until)")
    }
  }

  test("(d) a ParamLiteral equals its Literal; null and non-primitive values are inlined") {
    val p = new ParamLiteral(5L, LongType)
    assert(p == Literal(5L, LongType) && Literal(5L, LongType) == p)
    assert(p.hashCode == Literal(5L, LongType).hashCode)
    assert(p != Literal(6L, LongType))
    (p: org.apache.spark.sql.catalyst.expressions.Expression) match {
      case Literal(v, LongType) => assert(v == 5L) // what pushdown and folding match on
    }

    val bound = new CodegenContext
    val ev = p.genCode(bound)
    assert(bound.references.toSeq == Seq(5L) && !ev.value.toString.contains("5L"))

    // the rest generate exactly what the plain Literal generates
    for ((v, dt) <- Seq((null, LongType), (UTF8String.fromString("x"), StringType))) {
      val (pc, lc) = (new CodegenContext, new CodegenContext)
      val (pe, le) = (new ParamLiteral(v, dt).genCode(pc), Literal(v, dt).genCode(lc))
      assert(pe.code.toString == le.code.toString && pe.value.toString == le.value.toString &&
        pe.isNull.toString == le.isNull.toString, s"$v: ${pe.value} vs ${le.value}")
      assert(pc.references == lc.references && pc.declareMutableStates() == lc.declareMutableStates())
    }
  }
}
