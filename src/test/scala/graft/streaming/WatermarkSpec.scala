package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Watermark semantics (SURVEY.md §2.9): append-mode windowed counts emit
  * a window only once the watermark passes its end, and rows arriving
  * behind the watermark are dropped. Controlled epochs via MemoryStream —
  * this is the part of streaming a finite DuckDB oracle can't express. */
class WatermarkSpec extends SparkSpec {
  import spark.implicits._

  private def us(s: String): Long =
    java.sql.Timestamp.valueOf(s).getTime * 1000L

  test("append mode: late row behind the watermark is dropped") {
    withCheckpoint("wm") { ckpt =>
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[Long] // epoch micros
      val counts = input.toDF()
        .withColumn("ts", timestamp_micros(col("value")))
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n"))
      val q = counts.writeStream.format("memory").queryName("wm_counts")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
      try {
        input.addData(us("2024-01-01 10:00:01"), us("2024-01-01 10:30:00"), us("2024-01-01 11:05:00"))
        q.processAllAvailable() // watermark after batch: 10:55
        input.addData(us("2024-01-01 12:30:00"))
        q.processAllAvailable() // watermark: 12:20 → [10,11) and [11,12) closable
        input.addData(us("2024-01-01 10:05:00"), // LATE: behind 12:20 watermark → dropped
          us("2024-01-01 13:00:00"))
        q.processAllAvailable()
      } finally q.stop()

      val got = spark.table("wm_counts")
        .select(date_format(col("window.start"), "HH:mm").as("w"), col("n"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      assert(got("10:00") == 2L, s"late row must not count: $got")
      assert(got("11:00") == 1L)
    }
  }
}
