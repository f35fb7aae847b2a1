package graft.streaming

import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import graft.SparkSpec
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `streaming_stratified_sample` keeps its per-stratum `topk_heap` as
  * streaming aggregation state: the state-store value is the heap's
  * serialized buffer. Drained one file per micro-batch, stopped after a
  * middle batch and restarted from its checkpoint, the query must emit
  * the sample an uninterrupted drain emits, and that a batch `groupBy`
  * through the same heap computes. */
class StratifiedSampleRestartSpec extends SparkSpec {

  test("the stratified sample's heap state survives a restart from its checkpoint") {
    val events = graft.Tables(spark, sf("sf0.001")).events
      .select(col("event_id"), col("user_id"), col("event_type"))
    val schema = events.schema
    val src = Files.createTempDirectory("graft_ssamp_src").toFile
    // one file per part; the stream takes one file per micro-batch
    def addPart(i: Int): Unit =
      events.filter(col("event_id") % 4 === i).coalesce(1).write.mode("append").parquet(src.getPath)

    /** The sample as sorted (event_type, par, heap as JSON) strings. */
    def sample(agg: DataFrame): Seq[String] =
      agg.select(concat_ws("|", col("event_type"), col("par"), to_json(col("top"))))
        .collect().map(_.getString(0)).toSeq.sorted

    /** Drains the Reg's aggregation over `src` in complete mode from
      * checkpoint `ckpt`; returns the batch ids run and the last batch's
      * output. */
    def run(ckpt: String): (Seq[Long], Seq[String]) = {
      val out = ArrayBuffer[(Long, Seq[String])]()
      val stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(src.getPath)
      val q = StreamQueries.stratifiedSampleAgg(stream)
        .writeStream.outputMode("complete").option("checkpointLocation", ckpt)
        .foreachBatch { (batch: DataFrame, bid: Long) =>
          out.synchronized { out += bid -> sample(batch) }: Unit
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      (out.map(_._1).toSeq, out.maxBy(_._1)._2)
    }

    try graft.Shared.withConf(spark, "spark.sql.streaming.checkpointFileManagerClass" ->
        classOf[LocalCheckpointFileManager].getName) {
      withCheckpoint("ssamp_restart") { ckpt =>
        withCheckpoint("ssamp_whole") { whole =>
          addPart(0); addPart(1)
          val (firstIds, _) = run(ckpt)
          assert(firstIds.sorted == Seq(0L, 1L))
          addPart(2); addPart(3)
          val (restartIds, restarted) = run(ckpt)
          assert(restartIds.sorted == Seq(2L, 3L), s"restart ran batches $restartIds")
          val (wholeIds, uninterrupted) = run(whole)
          assert(wholeIds.sorted == Seq(0L, 1L, 2L, 3L))

          val batch = sample(StreamQueries.stratifiedSampleAgg(events))
          assert(batch.nonEmpty)
          assert(uninterrupted == batch)
          assert(restarted == uninterrupted)
        }
      }
    } finally FileUtils.deleteQuietly(src): Unit
  }
}
