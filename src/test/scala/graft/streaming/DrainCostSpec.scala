package graft.streaming

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.exchange.Exchange

/** What a drain costs beyond its micro-batches. Its checkpoint files are
  * written without starting a process per file, and the rows it returns
  * sit in one partition, so a post-drain aggregate or sort needs no
  * shuffle. */
class DrainCostSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  /** The `jdk.ProcessStart` events, with stack traces, of the processes
    * this JVM starts while `body` runs. */
  private def processStarts(body: => Unit): Seq[RecordedEvent] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    val file = Files.createTempFile("graft_drain", ".jfr")
    try {
      rec.start()
      try body finally rec.stop()
      rec.dump(file)
      RecordingFile.readAllEvents(file).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
    } finally { rec.close(); Files.deleteIfExists(file): Unit }
  }

  private def program(e: RecordedEvent): String =
    e.getString("command").trim.split("\\s+").head.split('/').last

  private def frames(e: RecordedEvent): Seq[String] =
    Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
      .map(f => f.getMethod.getType.getName + "." + f.getMethod.getName)

  test("a drain's checkpoint and state-store files start no chmod or readlink") {
    val managerKey = "spark.sql.streaming.checkpointFileManagerClass"
    val confBefore = spark.conf.getOption(managerKey)
    val starts = processStarts {
      // a process of our own: the recording does see process starts
      new ProcessBuilder("true").start().waitFor(): Unit
      assert(graft.SparkEntry.queries("streaming_running_counts")(spark, sf("sf0.001"))
        .collect().nonEmpty)
    }
    assert(spark.conf.getOption(managerKey) == confBefore, "the drain left its manager conf set")
    assert(starts.exists(e => program(e) == "true"), "the recording saw no process start")
    info(s"processes started: ${starts.map(program).groupBy(identity).view.mapValues(_.size).toMap}")
    val fromStreaming = starts.filter { e =>
      Set("chmod", "readlink")(program(e)) &&
        frames(e).exists(_.startsWith("org.apache.spark.sql.execution.streaming."))
    }
    assert(fromStreaming.size == 0,
      s"${fromStreaming.size} chmod/readlink from checkpoint or state-store code, e.g.\n" +
        fromStreaming.take(1).map(e => e.getString("command") + "\n  " +
          frames(e).mkString("\n  ")).mkString)
  }

  test("a drain returns its rows as one partition") {
    val dir = sf("sf0.001")
    val drained = StreamQueries.drain(
      StreamQueries.readEventsStream(spark, dir).groupBy("event_type").count(), "complete")
    assert(drained.rdd.getNumPartitions == 1)
    val batch = graft.Tables(spark, dir).events.groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(drained.collect().map(r => r.getString(0) -> r.getLong(1)).toMap == batch)
  }

  test("streaming_running_counts: the post-drain aggregate and sort plan no exchange") {
    val df = graft.SparkEntry.queries("streaming_running_counts")(spark, sf("sf0.001"))
    assert(df.collect().nonEmpty)
    val plan = df.queryExecution.executedPlan
    assert(plan.isInstanceOf[AdaptiveSparkPlanExec], s"not an adaptive plan:\n$plan")
    val exchanges = collect(plan) { case e: Exchange => e }
    assert(exchanges.isEmpty, s"final plan has exchanges:\n$plan")
  }
}
