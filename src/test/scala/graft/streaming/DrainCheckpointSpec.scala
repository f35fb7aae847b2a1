package graft.streaming

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** A memory-sink drain gets a fresh checkpoint under /dev/shm/graft-ckpt
  * (RAM-backed) per call; the sink cannot recover from it, so the drain
  * must delete it once its query stops, or the host keeps one directory
  * per drain. Likewise the sink's temp view must go, or the session keeps
  * every drained result. The query is found by name and its checkpoint by the path
  * the started query resolved, not by counting the directory, so other
  * runs sharing the root (and their leftovers) do not matter. */
class DrainCheckpointSpec extends SparkSpec {

  test("a memory-sink drain leaves no checkpoint behind") {
    val started = new ConcurrentLinkedQueue[(String, String)]()
    val listener = new StreamingQueryListener {
      // delivered on the query's thread before start() returns, when the
      // query is already active
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        if (Option(e.name).exists(_.startsWith("graft_stream_sink_")))
          spark.streams.get(e.id) match {
            case w: StreamingQueryWrapper =>
              started.add(e.name -> w.streamingQuery.resolvedCheckpointRoot)
            case other => started.add(e.name -> s"unresolved: $other")
          }
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    val rows = try {
      graft.SparkEntry.queries("streaming_running_counts")(spark, sf("sf0.001")).count()
    } finally spark.streams.removeListener(listener)
    assert(rows > 0)
    val queries = started.asScala.toSeq
    assert(queries.size == 1, s"expected one drain query, saw $queries")
    val (name, root) = queries.head
    val ckpt = new java.io.File(new java.net.URI(root))
    assert(ckpt.getParent == "/dev/shm/graft-ckpt" && ckpt.getName.startsWith(name + "_"),
      s"drain $name checkpointed at $root")
    assert(!ckpt.exists(), s"drain $name left its checkpoint $ckpt behind")
  }

  test("a memory-sink drain drops its sink view; the returned frame still reads its rows") {
    val dir = sf("sf0.001")
    val df = graft.SparkEntry.queries("streaming_running_counts")(spark, dir)
    val views = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_stream_sink_"))
    assert(views.isEmpty, s"drain left sink views: ${views.mkString(", ")}")
    val batch = graft.Tables(spark, dir).events.groupBy("user_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.nonEmpty && got == batch)
  }
}
