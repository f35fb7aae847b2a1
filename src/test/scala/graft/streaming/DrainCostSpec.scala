package graft.streaming

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic.{GraftShim, GraftTestShim}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.exchange.Exchange

/** What a drain costs beyond its micro-batches. Its checkpoint files are
  * written without starting a process per file, the rows it returns
  * sit in one partition, so a post-drain aggregate or sort needs no
  * shuffle, and its micro-batches reuse the code earlier drains compiled
  * unless its session has added artifacts of its own. */
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

  private val isolationKey = "spark.sql.artifact.isolation.enabled"

  /** `streaming_running_counts`' stream: a running count per user. */
  private def runningCounts(s: SparkSession): DataFrame =
    StatefulOps.runningCountsByKey(StreamQueries.readEventsStream(s, sf("sf0.001")), "user_id")
      .toDF("user_id", "n")

  /** Drains the events' types through `runStream` and
    * `foreachBatch`, running `inBatch` with each micro-batch's session. */
  private def eachBatch(s: SparkSession)(inBatch: SparkSession => Unit): Unit =
    withCheckpoint("drain_cost") { ckpt =>
      StreamQueries.runStream(
        StreamQueries.readEventsStream(s, sf("sf0.001")).select("event_type"), 1, ckpt)(
        _.outputMode("append").foreachBatch { (batch: DataFrame, _: Long) =>
          inBatch(batch.sparkSession)
        })
    }

  test("a second streaming_running_counts drain, in a fresh session, compiles no class") {
    StreamQueries.drain(runningCounts(spark), "update").collect()
    val counts = runningCounts(spark.newSession())
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    StreamQueries.drain(counts, "update")
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    assert(compiled == 0, s"$compiled classes compiled between the drain's start and stop")
  }

  test("a drain's micro-batches run without an artifact state of their own") {
    val states = scala.collection.mutable.ArrayBuffer[Option[String]]()
    eachBatch(spark.newSession())(b => states += GraftTestShim.artifactStateId(b))
    assert(states.nonEmpty && states.forall(_.isEmpty), s"micro-batch artifact states: $states")
  }

  test("a session that has added an artifact drains on an isolated clone") {
    val s = spark.newSession()
    val dir = Files.createTempDirectory("graft_artifact")
    try {
      val cls = Files.write(dir.resolve("GraftArtifactProbe.class"), Array[Byte](0))
      s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].addArtifact(cls.toString)
      assert(GraftShim.sessionArtifactAdded(s))
      val states = scala.collection.mutable.ArrayBuffer[Option[String]]()
      eachBatch(s)(b => states += GraftTestShim.artifactStateId(b))
      assert(states.nonEmpty && states.forall(_.isDefined), s"micro-batch artifact states: $states")
      assert(!states.contains(GraftTestShim.artifactStateId(s)), "the clone ran under the parent's state")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile): Unit
  }

  test("a drain leaves its session's own artifact state as it was") {
    val before = GraftTestShim.artifactStateId(spark)
    assert(before.isDefined, "the test session has no artifact state of its own")
    StreamQueries.drain(runningCounts(spark), "update").collect()
    assert(GraftTestShim.artifactStateId(spark) == before)
    // a session built but never used has no artifact manager yet; its
    // first drain, with a job of its own inside, leaves it its own state
    val fresh = SparkSession.builder().create()
    try {
      eachBatch(fresh)(_ => fresh.range(1).collect(): Unit)
      assert(GraftTestShim.artifactStateId(fresh).isDefined,
        "the session's artifact state was fixed under the clone's opt-out")
    } finally SparkSession.setActiveSession(spark)
  }

  test("the artifact isolation conf is unset once runStream returns or throws") {
    def isSet = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf.contains(isolationKey)
    assert(!isSet)
    StreamQueries.drain(runningCounts(spark), "update").collect()
    assert(!isSet, "a drain left the conf set")
    val failing = StreamQueries.readEventsStream(spark, sf("sf0.001"))
      .select(org.apache.spark.sql.functions.assert_true(org.apache.spark.sql.functions.lit(false)).as("x"))
    intercept[Exception](StreamQueries.drain(failing, "append"))
    assert(!isSet, "a failed drain left the conf set")
  }
}
