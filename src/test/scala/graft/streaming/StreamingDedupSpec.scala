package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** dropDuplicatesWithinWatermark semantics (SURVEY.md §2.9 streaming
  * dedup): a duplicate arriving while the key's state is live is dropped;
  * once the watermark passes first-occurrence + delay the state is
  * evicted, and a later duplicate is re-emitted. That state bound is what
  * makes dedup survivable on an unbounded stream — plain dropDuplicates
  * state grows with stream history. */
class StreamingDedupSpec extends SparkSpec {
  import spark.implicits._

  private def us(s: String): Long =
    java.sql.Timestamp.valueOf(s).getTime * 1000L

  test("within-watermark dup dropped; post-expiry dup re-emitted") {
    withCheckpoint("wmdedup") { ckpt =>
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[(Long, Long)] // (id, epoch micros)
      val deduped = input.toDF().toDF("id", "us")
        .withColumn("ts", timestamp_micros(col("us")))
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark("id")
      val q = deduped.writeStream.format("memory").queryName("wm_dedup")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
      try {
        // batch 1: id=1 twice within the delay → second dropped
        input.addData((1L, us("2024-01-01 10:00:00")), (1L, us("2024-01-01 10:01:00")))
        q.processAllAvailable()
        // batch 2: watermark advances to 10:50 → id=1 state (expires
        // 10:10) is evicted
        input.addData((2L, us("2024-01-01 11:00:00")))
        q.processAllAvailable()
        // batch 3: id=1 again, after expiry → re-emitted
        input.addData((1L, us("2024-01-01 11:05:00")))
        q.processAllAvailable()
      } finally q.stop()

      val got = spark.table("wm_dedup")
        .select(col("id"), date_format(col("ts"), "HH:mm").as("t"))
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got == Set((1L, "10:00"), (2L, "11:00"), (1L, "11:05")), got.toString)
    }
  }

  test("streaming sliding candles equal the batch sliding aggregation") {
    val dir = sf("sf0.001")
    val streamed = graft.SparkEntry.queries("streaming_candles_sliding")(spark, dir).collect()
    val batch = graft.Tables(spark, dir).events
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(
        min_by(col("value"), col("ts")).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), col("ts")).as("close"),
        sum(col("value")).as("volume"),
        count(lit(1)).as("trades"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("wstart"),
        col("event_type"), col("open"), col("high"), col("low"), col("close"),
        round(col("volume"), 4).as("volume"), col("trades"))
      .orderBy("wstart", "event_type")
      .collect()
    assert(streamed.length == batch.length && streamed.nonEmpty)
    streamed.zip(batch).foreach { case (s, b) => assert(s == b) }
  }
}
