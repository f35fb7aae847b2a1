package graft.streaming

import java.util.concurrent.atomic.AtomicInteger

import graft.Reg
import graft.ts.TimeSeries.ohlcv
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.classic.GraftShim
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured-Streaming twins of the batch operators (SURVEY.md §2.9).
  * Each query runs a REAL streaming execution (file source → windowed
  * state → memory sink, drained with processAllAvailable), then returns
  * the sink table — so the DuckDB oracle that grades the batch candles
  * grades the streaming path too.
  *
  * Scale notes: the same plan runs against a live file/Kafka source with
  * a checkpoint dir; complete-mode is used here because the fixture is
  * finite. Watermark + append is exercised in the test suite where the
  * input epochs are controlled (late-data semantics can't be expressed as
  * a finite DuckDB oracle).
  */
object StreamQueries {

  private val sinkId = new AtomicInteger(0)

  /** Physical ts type per stream link dir (fixture identity is already in
    * the dir name via md5). */
  private val tsTypeCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.DataType]()

  /** events.parquet physical schema, parameterized on the fixture
    * generation's ts type (see Tables.withNanosTs): TIMESTAMP(NANOS)
    * fixtures read ts as long under the legacy conf; round-8 fixtures
    * store timestamp[us] → TIMESTAMP_NTZ. */
  private def eventsRawSchema(tsType: org.apache.spark.sql.types.DataType) = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", tsType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Streamed read of the events fixture with exact µs timestamp restore.
    * FileStreamSource forces `basePath` to the stream path itself, which
    * must be a directory — a single-file fixture (the testdata layout) is
    * exposed through a per-sfdir symlink directory (fixtures stay
    * read-only); a directory fixture (Spark-written part files, e.g. the
    * 10× ScaleDemo corpus) streams directly — a symlink INTO the link
    * dir would not work there, since file listing does not recurse
    * through a symlinked subdirectory. */
  def readEventsStream(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val srcFile = Paths.get(dir, "events.parquet")
    val streamPath =
      if (Files.isDirectory(srcFile)) srcFile.toString
      else {
        val linkDir = Paths.get(sys.props("java.io.tmpdir"),
          s"graft_stream_${graft.sources.Fixtures.md5Hex(dir)}")
        Files.createDirectories(linkDir)
        val link = linkDir.resolve("events.parquet")
        if (!Files.exists(link)) Files.createSymbolicLink(link, srcFile)
        linkDir.toString
      }
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    // probe the fixture generation's physical ts type via a batch read
    // (footer-only; see Tables.withNanosTs for the two generations),
    // cached per stream path — every drain rep re-enters here and the
    // listing+footer probe is ~50 ms × 2 sources × reps otherwise.
    // Key includes the source's mtime+size (the Fixtures identity
    // pattern, ADVICE r8): a mid-JVM fixture regeneration with a
    // different ts type must invalidate the cached schema. (For a
    // directory source the mtime is the directory's — Spark rewrites
    // the whole directory on write, so it moves on regeneration.)
    val tsKey = streamPath + "|" +
      Files.getLastModifiedTime(srcFile).toMillis + "|" + Files.size(srcFile)
    val tsType = tsTypeCache.computeIfAbsent(tsKey,
      _ => spark.read.parquet(streamPath).schema("ts").dataType)
    val raw = spark.readStream
      .schema(eventsRawSchema(tsType))
      .parquet(streamPath)
    tsType match {
      case LongType => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }

  /** Root of every checkpoint the queries here write (RAM-backed tmpfs). */
  private val CkptRoot = "/dev/shm/graft-ckpt"

  /** Runs one streaming query from start to stop: the one lifecycle every
    * query in this file goes through. It wipes `ckpt` and `scratch`
    * (per-invocation outputs keyed on the sf dir, so repeated bench reps
    * never accumulate copies), starts `sink(df.writeStream)` with `ckpt`
    * as its checkpoint and `trigger` as its trigger, and drains it: under
    * AvailableNow until the query ends on its own, under any other
    * trigger until all available input is processed.
    * Then it stops the query and deletes the checkpoint, whatever
    * happened: every invocation starts fresh and nothing here resumes
    * from a checkpoint (the memory sink cannot), so one left behind is
    * only tmpfs held for the life of the host.
    *
    * Checkpoint files: the query's offset, commit and source logs and its
    * state-store files go through [[LocalCheckpointFileManager]], which
    * starts no `chmod` or `readlink` process per file. That is safe here
    * because every checkpoint is per-invocation tmpfs, deleted on stop,
    * so no other process or host reads it, and a POSIX rename within one
    * directory is atomic, which is all `createAtomic` needs.
    *
    * Compiled code: the query runs in a clone of `df`'s session, copied
    * at `start()`, and the clone is started with artifact isolation off
    * (`spark.sql.artifact.isolation.enabled`). Spark's codegen cache is
    * keyed by the task's class loader, and an isolated session's tasks
    * get a class loader of their own on the executors, so every drain
    * would compile its micro-batch classes again (13 for
    * `streaming_running_counts`' drain), and the JIT would warm each
    * copy again. With isolation off, the clone's tasks run in the
    * executors' default class loader and reuse the code earlier drains
    * compiled, in any session of the JVM. That is safe
    * because the engine adds no artifacts: its classes are on the
    * application class path, which every loader sees. A session that has
    * added jars, classes or files of its own keeps isolation, so its
    * stream still sees them. The parent session is not changed: its own
    * artifact state is fixed when its artifact manager is built, at the
    * latest by the guard's read before the conf is set, and the conf is
    * restored on return.
    *
    * Width: state-store instance count = shuffle partitions at query
    * start, and per-partition commit overhead dominates a small finite
    * drain, so `partitions` is set for the query's life and restored
    * after. Memory-sink drains default to 2 (round-8 A/B at sf0.1: −3 s
    * over the family vs the round-4b setting of 4), with two deliberate
    * exceptions re-A/B'd the same session: the stream-stream interval
    * joins run at 1 (two-sided state doubles per-partition commit cost)
    * and the session-window/dedup-watermark family stays at 4 (heavier
    * per-key state; 2 was ~0.1 s slower each). The sinks and incremental
    * screens run at [[drainParts]]. (On a live cluster this knob is sized
    * to key cardinality.) `rocksDb` runs the query on the RocksDB state
    * store, which transformWithState requires.
    *
    * SEQUENTIAL CONTRACT: the temporary session-conf mutation means two
    * graded queries must not drain concurrently on one SparkSession —
    * Verify and Bench both run queries strictly sequentially. A service
    * embedding these ops concurrently should isolate each drain on
    * `spark.newSession()` (cheap: shares the SparkContext, forks conf). */
  private[streaming] def runStream(df: DataFrame, partitions: Int, ckpt: String,
      scratch: Seq[String] = Nil, trigger: Trigger = Trigger.ProcessingTime(0L),
      rocksDb: Boolean = false)(
      sink: DataStreamWriter[Row] => DataStreamWriter[Row]): Unit = {
    (ckpt +: scratch).foreach(p => rmrf(new java.io.File(p)))
    val session = df.sparkSession
    // read before the opt-out below is set on `session`: the read builds
    // the session's artifact manager if nothing has yet, which fixes the
    // session's own artifact state from its conf
    val ownArtifacts = GraftShim.sessionArtifactAdded(session)
    val confs = Seq("spark.sql.shuffle.partitions" -> partitions.toString,
      "spark.sql.streaming.checkpointFileManagerClass" ->
        classOf[LocalCheckpointFileManager].getName) ++
      (if (rocksDb) Seq("spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      else Nil) ++
      (if (ownArtifacts) Nil else Seq("spark.sql.artifact.isolation.enabled" -> "false"))
    graft.Shared.withConf(session, confs: _*) {
      try {
        val q = sink(df.writeStream).option("checkpointLocation", ckpt).trigger(trigger).start()
        try {
          if (trigger == Trigger.AvailableNow())
            require(q.awaitTermination(120000), "AvailableNow drain did not terminate")
          else q.processAllAvailable()
        } finally q.stop()
      } finally rmrf(new java.io.File(ckpt))
    }
  }

  /** Drains `df` into a memory sink under a fresh query name and returns
    * the sink's rows. The default trigger is the micro-batch trigger;
    * Trigger.AvailableNow is the scheduled-incremental-job trigger, which
    * paces itself through the input and ends on its own.
    *
    * The memory sink registers its table as a temp view named after the
    * query. The view is resolved into the returned frame and then
    * dropped, also when the drain fails, so the session's catalog does
    * not keep every drained result alive: the rows live as long as the
    * returned frame does.
    *
    * The rows come back as one partition. They already sit in driver
    * memory, and split over the session's default parallelism every
    * post-drain aggregate or sort would pay a shuffle (and a sort its
    * range-sampling job) to bring them back together. */
  private[streaming] def drain(df: DataFrame, mode: String, partitions: Int = 2,
      trigger: Trigger = Trigger.ProcessingTime(0L), rocksDb: Boolean = false): DataFrame = {
    val name = s"graft_stream_sink_${sinkId.incrementAndGet()}"
    try {
      runStream(df, partitions,
        s"$CkptRoot/${name}_${java.util.UUID.randomUUID().toString.take(8)}",
        trigger = trigger, rocksDb = rocksDb)(
        _.format("memory").queryName(name).outputMode(mode))
      df.sparkSession.table(name).coalesce(1)
    } finally df.sparkSession.catalog.dropTempView(name)
  }

  /** Micro-batch parallelism of the sinks and the INCREMENTAL SCREENS (the
    * foreachBatch store/band/read-out pipelines): 4 shuffle partitions
    * by default — at fixture scale each micro-batch shuffles a few
    * thousand rows and 32-way task overhead dominates — overridable via
    * `SPARK_GRAFT_DRAIN_PARTS` for the third-decade protocol, where the
    * pin is an 8× parallelism loss on a 32-core host (the 1000×
    * streaming_semdedup_keep row's per-batch hierAssign + cell band
    * pushes ~10⁸-row joins through 4 tasks; measured table in
    * BASELINE.md round-16). On a real cluster this is sized to batch
    * volume like any shuffle width; the graded Verify/Bench surface
    * keeps 4 so fixture-scale plans are unchanged. */
  private def drainParts: Int =
    sys.env.getOrElse("SPARK_GRAFT_DRAIN_PARTS", "4").toInt

  /** The documents fixture's columns, as the doc stream files carry them. */
  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** A parquet file stream over `srcDir` that takes one file per trigger,
    * so each stream file is its own micro-batch. */
  private def fileStream(s: SparkSession, schema: StructType, srcDir: String): DataFrame =
    s.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(srcDir)

  /** Writes `df` as batch `bid` of the batchId-keyed store at `root`, as
    * one file, and returns the part's path. OVERWRITE on the batch's own
    * dir (round 14): foreachBatch is at-least-once, and a replayed batch
    * replaces its earlier attempt instead of adding a second copy, so
    * every store is idempotent. One file per batch because the stores are
    * read back every batch. `repartition(1)`, not `coalesce(1)` (round
    * 16): coalesce is NARROW and collapses the upstream batch×store band
    * join to one task (BASELINE.md round-16 records the A/B). */
  private def writeBatch(df: DataFrame, root: String, bid: Long): String = {
    val path = s"$root/batch=$bid"
    df.repartition(1).write.mode("overwrite").parquet(path)
    path
  }

  /** Runs an incremental screen: `stream` drains in append mode at
    * [[drainParts]] through `body`, once per micro-batch, with checkpoint
    * `<CkptRoot>/<ckptKey>`, after wiping `scratch`. `body` gets the batch,
    * its batchId and the screen's [[Stores]], closed once the query stops. */
  private def screen(stream: DataFrame, ckptKey: String, scratch: Seq[String])(
      body: (DataFrame, Long, Stores) => Unit): Unit = {
    val stores = new Stores
    try runStream(stream, drainParts, s"$CkptRoot/$ckptKey", scratch)(
      _.outputMode("append").foreachBatch { (batch: DataFrame, bid: Long) =>
        body(batch, bid, stores)
      })
    finally stores.close()
  }

  /** Recursive delete for /dev/shm scratch that is rebuilt per invocation. */
  private def rmrf(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(rmrf)
    f.delete(): Unit
  }

  /** An incremental screen's accumulated stores: one [[BatchAcc]] per
    * store root. */
  private final class Stores {
    private val accs = scala.collection.mutable.Map[String, BatchAcc]()
    /** Writes `df` as batch `bid` of the store at `root` ([[writeBatch]])
      * and returns (this batch's read-back, union of all batches so far). */
    def append(df: DataFrame, root: String, bid: Long): (DataFrame, DataFrame) =
      accs.getOrElseUpdate(root, new BatchAcc).add(df.sparkSession, bid, writeBatch(df, root, bid))
    def close(): Unit = accs.values.foreach(_.close())
  }

  /** In-session accumulator over an incremental screen's batchId-keyed
    * parquet store (round 17, VERDICT r16 #1). The screens previously
    * re-read the ENTIRE store from parquet inside every micro-batch
    * (`sp.read.parquet(store)`), so total store-read volume grew as
    * O(batches²) — the family's real scale-killer at thousands of
    * triggers. Instead, each batch's just-committed `batch=<bid>` file
    * is read back ONCE, persisted, and the all-so-far relation is the
    * union of those persisted parts: per-batch store-read cost drops to
    * O(batch), and the batch side of the band join can reuse the same
    * read-back instead of recomputing the fingerprint/token pass for a
    * second action. Every part's lineage is its own single-file parquet
    * scan, so an evicted block degrades to a re-read, never to
    * recomputing streaming state.
    *
    * Idempotence: parts are keyed by batchId — an at-least-once replay
    * REPLACES its own earlier part (the same rule as the batchId-keyed
    * OVERWRITE sinks it mirrors). The parquet store stays the source of
    * truth: every graded run wipes its store first ([[runStream]]), so
    * accumulator and store start — and stay — in lockstep; a deployment
    * resuming over an existing store would re-seed parts from the
    * surviving batch= dirs before starting the query.
    *
    * Plan growth: the union widens with the trigger count, so once it
    * passes [[BatchAcc.FoldAt]] parts the retired parts are folded into
    * one localCheckpointed relation. Fold/replay rule: a folded part can
    * no longer be replaced, so the accumulator remembers every batchId it
    * folded and THROWS on a replay of one — appending it next to its
    * folded copy would duplicate its rows (and double wj's document
    * frequencies). In a screen only the CURRENT batch can be replayed (a
    * foreachBatch failure fails the run; a restart begins a fresh
    * accumulator), and the current batch is never folded, so the throw
    * marks a broken caller, not a lost replay. close() unpersists
    * everything — the screens' read-outs re-read the final store from
    * parquet. */
  private[streaming] final class BatchAcc {
    private val parts =
      scala.collection.mutable.LinkedHashMap[Long, org.apache.spark.sql.DataFrame]()
    private val folded = scala.collection.mutable.Set[Long]()
    /** Read `path` (the batch file just written for `bid`) back, persist
      * it, and return (this batch's relation, union of all batches). */
    def add(sp: SparkSession, bid: Long, path: String): (DataFrame, DataFrame) = {
      if (folded.contains(bid))
        throw new IllegalStateException(
          s"batch $bid was already folded into the accumulator; its replay cannot replace it")
      parts.remove(bid).foreach(_.unpersist())
      if (parts.size >= BatchAcc.FoldAt) {
        val all = parts.values.reduce(_.union(_)).localCheckpoint()
        parts.values.foreach(_.unpersist())
        folded ++= parts.keys.filter(_ != Long.MinValue)
        parts.clear()
        parts.put(Long.MinValue, all)
      }
      val p = sp.read.parquet(path).persist()
      parts.put(bid, p)
      (p, parts.values.reduce(_.union(_)))
    }
    def close(): Unit = { parts.values.foreach(_.unpersist()); parts.clear() }
  }
  private[streaming] object BatchAcc { val FoldAt = 32 }

  /** Hourly OHLCV candles per event type, streamed and drained under
    * `trigger` at `partitions` (streaming_candles_1h and its AvailableNow
    * twin). */
  private def hourlyCandles(s: SparkSession, dir: String, partitions: Int,
      trigger: Trigger): DataFrame = {
    val fmt = "yyyy-MM-dd HH:mm:ss"
    val candles = ohlcv(readEventsStream(s, dir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type")))
    drain(candles, "complete", partitions, trigger)
      .select(date_format(col("window.start"), fmt).as("bucket"),
        col("event_type"), col("open"), col("high"), col("low"), col("close"),
        round(col("volume"), 4).as("volume"), col("trades"))
      .orderBy("bucket", "event_type")
  }

  private val hourlyCandlesOracle = """
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
               event_type,
               arg_min(value, ts) AS open,
               max(value) AS high,
               min(value) AS low,
               arg_max(value, ts) AS close,
               round(sum(value), 4) AS volume,
               count(*) AS trades
        FROM events
        GROUP BY 1, 2
        ORDER BY 1, 2
      """

  val all: Seq[Reg] = Seq(

    // ---- streaming OHLCV candles: window agg over the event-time column -
    // Same oracle as batch candles_1h — streaming must agree with batch.
    Reg("streaming_candles_1h",
      (s, dir) => hourlyCandles(s, dir, 2, Trigger.ProcessingTime(0L)),
      Some(hourlyCandlesOracle)),

    // ---- candles through Trigger.AvailableNow ---------------------------
    // The scheduled-incremental-job trigger in the GRADED path: identical
    // aggregation to streaming_candles_1h, but the query self-paces
    // through the input and terminates on its own (no external stop) —
    // what an hourly cron re-running over a growing directory executes.
    // Same oracle as the batch candles: trigger choice must be
    // result-invisible.
    Reg("streaming_candles_availablenow",
      (s, dir) => hourlyCandles(s, dir, drainParts, Trigger.AvailableNow()),
      Some(hourlyCandlesOracle)),

    // ---- streaming SLIDING-window candles: 1 h window, 15 m slide -------
    // Each event lands in windowDuration/slideDuration = 4 windows whose
    // starts are the 15-min marks in (ts − 1 h, ts]; the oracle enumerates
    // exactly those 4 starts per event.
    Reg("streaming_candles_sliding",
      (s, dir) => {
        val fmt = "yyyy-MM-dd HH:mm:ss"
        val candles = ohlcv(readEventsStream(s, dir)
          .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type")))
        drain(candles, "complete")
          .select(date_format(col("window.start"), fmt).as("wstart"),
            col("event_type"), col("open"), col("high"), col("low"), col("close"),
            round(col("volume"), 4).as("volume"), col("trades"))
          .orderBy("wstart", "event_type")
      },
      Some("""
        WITH w AS (
          SELECT e.*, make_timestamp(((epoch_us(ts) // 900000000) - k.k) * 900000000) AS wstart
          FROM events e, range(4) k(k))
        SELECT strftime(wstart, '%Y-%m-%d %H:%M:%S') AS wstart,
               event_type,
               arg_min(value, ts) AS open,
               max(value) AS high,
               min(value) AS low,
               arg_max(value, ts) AS close,
               round(sum(value), 4) AS volume,
               count(*) AS trades
        FROM w
        GROUP BY 1, 2
        ORDER BY 1, 2
      """)),

    // ---- APPEND-mode SLIDING candles with a watermark -------------------
    // The sliding twin of streaming_candles_append (closes the last
    // complete-mode-only streaming shape): each event still lands in 4
    // windows; a window emits once the watermark passes its END and its
    // state drops — the emitted set is windows with
    // wstart + 1 h <= max(ts) − delay, mirrored exactly by the oracle's
    // HAVING over the same 4-start enumeration.
    Reg("streaming_candles_sliding_append",
      (s, dir) => {
        val fmt = "yyyy-MM-dd HH:mm:ss"
        val candles = ohlcv(readEventsStream(s, dir)
          .withWatermark("ts", "10 minutes")
          .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type")))
        drain(candles, "append")
          .select(date_format(col("window.start"), fmt).as("wstart"),
            col("event_type"), col("open"), col("high"), col("low"), col("close"),
            round(col("volume"), 4).as("volume"), col("trades"))
          .orderBy("wstart", "event_type")
      },
      Some("""
        WITH w AS (
          SELECT e.*, make_timestamp(((epoch_us(ts) // 900000000) - k.k) * 900000000) AS wstart
          FROM events e, range(4) k(k))
        SELECT strftime(wstart, '%Y-%m-%d %H:%M:%S') AS wstart,
               event_type,
               arg_min(value, ts) AS open,
               max(value) AS high,
               min(value) AS low,
               arg_max(value, ts) AS close,
               round(sum(value), 4) AS volume,
               count(*) AS trades
        FROM w
        GROUP BY w.wstart, event_type
        HAVING w.wstart + INTERVAL 1 HOUR
                 <= (SELECT max(ts) FROM events) - INTERVAL 10 MINUTES
        ORDER BY 1, 2
      """)),

    // ---- APPEND-mode candles with a watermark: the scale-true path ------
    // Complete mode re-emits all state every batch (fine on a finite
    // fixture, unbounded on a real stream); append emits each window once
    // when the watermark passes its end and then drops its state. The
    // emitted set is deterministic — windows with end <= max(ts) − delay —
    // and the oracle mirrors that cutoff exactly.
    Reg("streaming_candles_append",
      (s, dir) => {
        val fmt = "yyyy-MM-dd HH:mm:ss"
        val candles = ohlcv(readEventsStream(s, dir)
          .withWatermark("ts", "10 minutes")
          .groupBy(window(col("ts"), "1 hour"), col("event_type")))
        drain(candles, "append")
          .select(date_format(col("window.start"), fmt).as("bucket"),
            col("event_type"), col("open"), col("high"), col("low"), col("close"),
            round(col("volume"), 4).as("volume"), col("trades"))
          .orderBy("bucket", "event_type")
      },
      Some("""
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
               event_type,
               arg_min(value, ts) AS open,
               max(value) AS high,
               min(value) AS low,
               arg_max(value, ts) AS close,
               round(sum(value), 4) AS volume,
               count(*) AS trades
        FROM events
        GROUP BY 1, 2
        HAVING date_trunc('hour', min(ts)) + INTERVAL 1 HOUR
                 <= (SELECT max(ts) FROM events) - INTERVAL 10 MINUTES
        ORDER BY 1, 2
      """)),

    // ---- streaming session windows (30-min gap) per user ----------------
    // session_window treats a gap of exactly the duration as a new session
    // (half-open interval merge), hence `>=` in the oracle's gap test.
    Reg("streaming_session_counts",
      (s, dir) => {
        val fmt = "yyyy-MM-dd HH:mm:ss"
        val sessions = readEventsStream(s, dir)
          .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
          .agg(count(lit(1)).as("n_events"))
        drain(sessions, "complete", 4)
          .select(col("user_id"),
            date_format(col("session_window.start"), fmt).as("start_ts"),
            date_format(col("session_window.end"), fmt).as("end_ts"),
            col("n_events"))
          .orderBy("user_id", "start_ts")
      },
      Some("""
        WITH e AS (
          SELECT user_id, ts, event_id,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
                      THEN 1 ELSE 0 END AS ns
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        s AS (SELECT user_id, ts,
                     sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
              FROM e)
        SELECT user_id,
               strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS start_ts,
               strftime(max(ts) + INTERVAL 30 MINUTES, '%Y-%m-%d %H:%M:%S') AS end_ts,
               count(*) AS n_events
        FROM s GROUP BY user_id, sid
        ORDER BY user_id, start_ts
      """)),

    // ---- APPEND-mode session windows: the unbounded-stream formulation --
    // A session emits once the watermark passes its end (last event +
    // gap) — no later event can merge into it, so its state drops.
    // Deterministic emitted set: sessions ending at or before
    // max(ts) − delay; the oracle mirrors that cutoff.
    Reg("streaming_session_append",
      (s, dir) => {
        val fmt = "yyyy-MM-dd HH:mm:ss"
        val sessions = readEventsStream(s, dir)
          .withWatermark("ts", "1 hour")
          .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
          .agg(count(lit(1)).as("n_events"))
        drain(sessions, "append", 4)
          .select(col("user_id"),
            date_format(col("session_window.start"), fmt).as("start_ts"),
            date_format(col("session_window.end"), fmt).as("end_ts"),
            col("n_events"))
          .orderBy("user_id", "start_ts")
      },
      Some("""
        WITH e AS (
          SELECT user_id, ts, event_id,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
                      THEN 1 ELSE 0 END AS ns
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        s AS (SELECT user_id, ts,
                     sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
              FROM e)
        SELECT user_id,
               strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS start_ts,
               strftime(max(ts) + INTERVAL 30 MINUTES, '%Y-%m-%d %H:%M:%S') AS end_ts,
               count(*) AS n_events
        FROM s GROUP BY user_id, sid
        HAVING max(ts) + INTERVAL 30 MINUTES
                 <= (SELECT max(ts) FROM events) - INTERVAL 1 HOUR
        ORDER BY user_id, start_ts
      """)),

    // ---- stream-stream join: purchases ⋈ clicks within 5 minutes --------
    // Both sides watermarked + a range condition on event time — the
    // combination that lets Spark bound join state on an unbounded
    // stream (state for rows older than watermark+range is evicted).
    // On the finite fixture every pair is emitted, so the batch range
    // join is the exact oracle.
    Reg("streaming_join_purchase_click",
      (s, dir) => {
        val fmt = "yyyy-MM-dd HH:mm:ss"
        val ev1 = readEventsStream(s, dir)
        val ev2 = readEventsStream(s, dir)
        val p = ev1.filter(col("event_type") === "purchase")
          .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
            col("ts").as("p_ts"))
          .withWatermark("p_ts", "1 hour")
        val c = ev2.filter(col("event_type") === "click")
          .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
            col("value").as("c_val"))
          .withWatermark("c_ts", "1 hour")
        val joined = p.join(c,
          col("p_user") === col("c_user") &&
            col("c_ts") >= col("p_ts") - expr("INTERVAL 5 MINUTES") &&
            col("c_ts") <= col("p_ts"))
        drain(joined, "append", 1)
          .select(col("p_id"), col("p_user").as("user_id"),
            date_format(col("p_ts"), fmt).as("p_ts"),
            date_format(col("c_ts"), fmt).as("c_ts"), col("c_val"))
          .orderBy("p_id", "c_ts", "c_val")
      },
      Some("""
        SELECT p.event_id AS p_id, p.user_id,
               strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS p_ts,
               strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS c_ts,
               c.value AS c_val
        FROM events p JOIN events c
          ON p.user_id = c.user_id
         AND p.event_type = 'purchase' AND c.event_type = 'click'
         AND c.ts >= p.ts - INTERVAL 5 MINUTES AND c.ts <= p.ts
        ORDER BY p_id, c_ts, c_val
      """)),

    // ---- stream-stream interval OVERLAP join (round-10) -----------------
    // The streaming twin of batch `interval_overlap_join` (the one
    // mechanical streaming twin left on NEXT's list): two DERIVED
    // interval streams — each purchase opens a 10-min processing window
    // [p_ts, p_ts+10m], each error a 5-min blast window [e_ts, e_ts+5m]
    // — joined on per-user interval OVERLAP. For fixed-duration
    // intervals the overlap predicate p_ts ≤ e_ts+5m ∧ e_ts ≤ p_ts+10m
    // is EXACTLY a two-sided event-time band e_ts ∈ [p_ts−5m, p_ts+10m],
    // which is the condition class Spark's stream-stream join can bound
    // state with — the same banding idea that hour-bucketizes the batch
    // op, except here the watermark (not a bucket key) bounds the
    // candidate set, and state eviction replaces bucket pruning. Emitted
    // overlap_us is integer µs (least/greatest of exact micros). Inner
    // join: matches emit as found; 1-hour watermarks on both sides bound
    // two-sided state exactly as in the sibling joins.
    Reg("streaming_interval_overlap",
      (s, dir) => {
        val fmt = "yyyy-MM-dd HH:mm:ss"
        val p = readEventsStream(s, dir).filter(col("event_type") === "purchase")
          .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
            col("ts").as("p_ts"))
          .withWatermark("p_ts", "1 hour")
        val e = readEventsStream(s, dir).filter(col("event_type") === "error")
          .select(col("event_id").as("e_id"), col("user_id").as("e_user"),
            col("ts").as("e_ts"))
          .withWatermark("e_ts", "1 hour")
        val joined = p.join(e,
          col("p_user") === col("e_user") &&
            col("e_ts") >= col("p_ts") - expr("INTERVAL 5 MINUTES") &&
            col("e_ts") <= col("p_ts") + expr("INTERVAL 10 MINUTES"))
        drain(joined, "append", 1)
          .select(col("p_id"), col("e_id"), col("p_user").as("user_id"),
            date_format(col("p_ts"), fmt).as("p_start_ts"),
            date_format(col("e_ts"), fmt).as("e_start_ts"),
            (least(unix_micros(col("p_ts")) + 600000000L,
              unix_micros(col("e_ts")) + 300000000L) -
              greatest(unix_micros(col("p_ts")),
                unix_micros(col("e_ts")))).as("overlap_us"))
          .orderBy("p_id", "e_id")
      },
      Some("""
        SELECT p.event_id AS p_id, e.event_id AS e_id, p.user_id,
               strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS p_start_ts,
               strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS e_start_ts,
               least(epoch_us(p.ts) + 600000000, epoch_us(e.ts) + 300000000)
                 - greatest(epoch_us(p.ts), epoch_us(e.ts)) AS overlap_us
        FROM events p JOIN events e
          ON p.user_id = e.user_id
         AND p.event_type = 'purchase' AND e.event_type = 'error'
         AND e.ts >= p.ts - INTERVAL 5 MINUTES
         AND e.ts <= p.ts + INTERVAL 10 MINUTES
        ORDER BY p_id, e_id
      """)),

    // ---- streaming stratified sampling: bounded heap as state (round-10)
    // The sampling family's streaming rung, and a reuse proof for the
    // custom typed Aggregator surface: the SAME bounded-heap
    // [[graft.functions.TopKAggregator]] that powers the batch
    // `topk_heap_parts_by_brand` runs here as STREAMING AGGREGATION
    // STATE — per (event_type, user-parity) stratum the state is the 5
    // smallest salted hashes seen so far (k ScoredIds, ~80 bytes/key,
    // mergeable across micro-batches exactly like its map-side partials
    // merge in batch — min-k-of-hashes is an order-independent sketch,
    // the KMV argument, so ANY batch split yields the same sample).
    // Hashes are 48-bit (12 md5 hex chars) so the Double score is exact
    // (< 2⁵³); complete-mode drain emits the final sample. This is the
    // deterministic streaming form of per-stratum uniform sampling —
    // the balanced train/eval quota maintained INCREMENTALLY.
    Reg("streaming_stratified_sample",
      (s, dir) => {
        val topk = udaf(new graft.functions.TopKAggregator(5),
          org.apache.spark.sql.Encoders.product[graft.functions.ScoredId])
        val src = readEventsStream(s, dir)
          .withColumn("hv", expr(
            "CAST(conv(substring(md5(concat('ssamp:'," +
              " CAST(event_id AS STRING))), 1, 12), 16, 10) AS BIGINT)"))
          .withColumn("par", expr("user_id % 2"))
        val agg = src.groupBy(col("event_type"), col("par"))
          .agg(topk(-col("hv").cast("double"), col("event_id")).as("top"))
        drain(agg, "complete")
          .select(col("event_type"), col("par"),
            posexplode(col("top")).as(Seq("i", "t")))
          .select(col("event_type"), col("par"),
            (col("i") + 1).cast("int").as("pick"), col("t.id").as("event_id"),
            (-col("t.score")).cast("long").as("hv"))
          .orderBy("event_type", "par", "pick")
      },
      Some("""
        WITH h AS (SELECT event_type, user_id % 2 AS par, event_id,
                          ('0x' || substr(md5('ssamp:' || CAST(event_id AS VARCHAR)), 1, 12))::BIGINT AS hv
                   FROM events),
        r AS (SELECT *, row_number() OVER (PARTITION BY event_type, par
                                           ORDER BY hv, event_id) AS pick
              FROM h)
        SELECT event_type, par, CAST(pick AS INT) AS pick, event_id, hv
        FROM r WHERE pick <= 5
        ORDER BY event_type, par, pick
      """)),

    // ---- streaming Misra-Gries heavy hitters, exactly verified (r11) ----
    // The trending-tokens monitoring primitive, and the FOURTH mergeable-
    // sketch-as-state member (CMS folds by sum, HLL by max, histogram by
    // sum, MG by the counter-wise-sum + (k+1)-th-largest reduction):
    // documents arrive in 3 real micro-batches and the global streaming
    // aggregation state is one [[graft.functions.MisraGriesAggregator]]
    // map — ≤ 2000 counters for an unbounded token stream, merged across
    // micro-batches exactly as its map-side partials merge in batch
    // (Agarwal et al.'s mergeability is what makes the incremental form
    // correct). The drained summary is merge-order-dependent, so — the
    // batch twin's verification pattern — it is used only as a CANDIDATE
    // set: the exact recount joins candidates against the batch corpus
    // and re-applies the n/1000 threshold, making the OUTPUT exact and
    // graded by the SAME two-pass SQL as heavy_hitter_tokens.
    Reg("streaming_heavy_hitters_mg",
      (s, dir) => {
        val mg = udaf(new graft.functions.MisraGriesAggregator(2000),
          org.apache.spark.sql.Encoders.STRING)
        val srcDir = graft.sources.Fixtures.ensureDocStreamFiles(s, dir, n = 3)
        val stream = fileStream(s, docSchema, srcDir)
          .select(explode(graft.text.TextOps.tokens(col("text"))).as("tok"))
        val summary = drain(stream.agg(mg(col("tok")).as("summary")), "complete")
        val cand = summary.select(explode(map_keys(col("summary"))).as("tok"))
        val toks = graft.Tables(s, dir).documents
          .select(explode(graft.text.TextOps.tokens(col("text"))).as("tok"))
        val total = toks.agg(count(lit(1)).as("n_total"))
        toks.join(broadcast(cand), "tok")
          .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
          .crossJoin(broadcast(total))
          .filter(col("cnt") * 1000 > col("n_total"))
          .select(col("tok"), col("cnt"),
            expr("cnt * 10000 div n_total").as("permyriad"))
          .orderBy(col("cnt").desc, col("tok"))
      },
      Some("""
        WITH tok AS (SELECT unnest(string_split(trim(text), ' ')) AS tok
                     FROM documents),
        c AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY 1),
        t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM c)
        SELECT tok, cnt, CAST(cnt * 10000 // n_total AS BIGINT) AS permyriad
        FROM c, t
        WHERE cnt * 1000 > n_total
        ORDER BY cnt DESC, tok
      """)),

    // ---- stream-stream LEFT OUTER interval join -------------------------
    // The attribution query users actually run: purchases WITH OR WITHOUT
    // a prior click within 5 minutes. Matches emit as found; a purchase
    // with no match emits null-extended once its state is evicted — which
    // happens when the join watermark passes p_ts (no future click with
    // c_ts <= p_ts can arrive). The watermark is computed per side on its
    // own FILTERED stream and the join uses the min — so the cutoff is
    // least(max purchase ts, max click ts) − 1 h, which the oracle
    // mirrors; unmatched purchases newer than that stay in state when the
    // drain stops (they'd emit when more data advanced the watermark) and
    // appear on neither side. Null join
    // columns are coalesced to sentinels ('' / −1.0) on both sides — the
    // cross-engine NULL-float hashing trap (see Reg.scala doc).
    Reg("streaming_join_outer",
      (s, dir) => {
        val fmt = "yyyy-MM-dd HH:mm:ss"
        val p = readEventsStream(s, dir).filter(col("event_type") === "purchase")
          .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
            col("ts").as("p_ts"))
          .withWatermark("p_ts", "1 hour")
        val c = readEventsStream(s, dir).filter(col("event_type") === "click")
          .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
            col("value").as("c_val"))
          .withWatermark("c_ts", "1 hour")
        val joined = p.join(c,
          col("p_user") === col("c_user") &&
            col("c_ts") >= col("p_ts") - expr("INTERVAL 5 MINUTES") &&
            col("c_ts") <= col("p_ts"),
          "left_outer")
        drain(joined, "append", 1)
          .select(col("p_id"), col("p_user").as("user_id"),
            date_format(col("p_ts"), fmt).as("p_ts"),
            coalesce(date_format(col("c_ts"), fmt), lit("")).as("c_ts"),
            coalesce(col("c_val"), lit(-1.0)).as("c_val"))
          .orderBy("p_id", "c_ts", "c_val")
      },
      Some("""
        SELECT p.event_id AS p_id, p.user_id,
               strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS p_ts,
               coalesce(strftime(c.ts, '%Y-%m-%d %H:%M:%S'), '') AS c_ts,
               coalesce(c.value, -1.0) AS c_val
        FROM events p LEFT JOIN events c
          ON p.user_id = c.user_id AND c.event_type = 'click'
         AND c.ts >= p.ts - INTERVAL 5 MINUTES AND c.ts <= p.ts
        WHERE p.event_type = 'purchase'
          AND (c.ts IS NOT NULL
               OR p.ts < (SELECT least(max(ts) FILTER (event_type = 'purchase'),
                                       max(ts) FILTER (event_type = 'click'))
                            - INTERVAL 1 HOUR FROM events))
        ORDER BY p_id, c_ts, c_val
      """)),

    // ---- EVENT-TIME TIMERS: per-series gap alarms (transformWithState) --
    // Mid-stream gaps alarm when the successor arrives; the per-series
    // tail event alarms from a TIMER firing when the watermark passes
    // last_ts + 30 min (delay 0: final watermark = max(ts)). See
    // StatefulOps.GapAlarmProcessor for the replay contract.
    Reg("streaming_gap_alarm",
      (s, dir) => {
        val fmt = "yyyy-MM-dd HH:mm:ss"
        val alarms = StatefulOps.gapAlarms(readEventsStream(s, dir),
            gapUs = 1800L * 1000000L, delay = "0 seconds")
          .toDF("event_type", "ts_us", "kind")
        drain(alarms, "update", rocksDb = true)
          .select(col("event_type"),
            date_format(timestamp_micros(col("ts_us")), fmt).as("last_ts"),
            col("kind"))
          .orderBy("event_type", "last_ts")
      },
      Some("""
        WITH e AS (SELECT event_type, ts,
                          lead(ts) OVER (PARTITION BY event_type ORDER BY ts) AS nxt
                   FROM events)
        SELECT event_type,
               strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts,
               CASE WHEN nxt IS NULL THEN 'final' ELSE 'mid' END AS kind
        FROM e
        WHERE (nxt IS NOT NULL AND epoch_us(nxt) - epoch_us(ts) > 1800000000)
           OR (nxt IS NULL AND ts + INTERVAL 30 MINUTES <= (SELECT max(ts) FROM events))
        ORDER BY 1, 2
      """)),

    // ---- timer-closed sessions via transformWithState -------------------
    // True streaming sessionization WITHOUT session_window: a session
    // closes when later data breaks the 30-min gap (emitted at detection)
    // or when the event-time watermark passes last+gap and the per-key
    // TIMER fires — the "user went away" close session_window gets for
    // free and arbitrary state must build by hand. Oracle = the batch
    // sessionize relation (gap > 30 min, matching the processor's strict
    // inequality); each user's final session appears iff its close timer
    // could fire before the drain stopped (end + 30 min <= max ts, the
    // delay-0 watermark cutoff — the streaming_gap_alarm pattern).
    Reg("streaming_session_timers",
      (s, dir) => {
        val fmt = "yyyy-MM-dd HH:mm:ss"
        val sessions = StatefulOps.timerSessions(readEventsStream(s, dir),
            gapUs = 1800L * 1000000L, delay = "0 seconds")
          .toDF("user_id", "start_us", "last_us", "n_events")
        drain(sessions, "update", 4, rocksDb = true)
          .select(col("user_id"),
            date_format(timestamp_micros(col("start_us")), fmt).as("start_ts"),
            date_format(timestamp_micros(col("last_us")), fmt).as("end_ts"),
            col("n_events"))
          .orderBy("user_id", "start_ts")
      },
      Some("""
        WITH e AS (
          SELECT user_id, ts, event_id,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                      THEN 1 ELSE 0 END AS ns
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        s AS (SELECT user_id, ts,
                     CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
              FROM e),
        st AS (SELECT user_id, sid,
                      min(ts) AS start_ts, max(ts) AS end_ts, count(*) AS n_events
               FROM s GROUP BY 1, 2),
        mx AS (SELECT user_id, max(sid) AS last_sid FROM st GROUP BY 1)
        SELECT st.user_id,
               strftime(st.start_ts, '%Y-%m-%d %H:%M:%S') AS start_ts,
               strftime(st.end_ts, '%Y-%m-%d %H:%M:%S') AS end_ts,
               st.n_events
        FROM st JOIN mx ON st.user_id = mx.user_id
        WHERE st.sid < mx.last_sid
           OR st.end_ts + INTERVAL 30 MINUTES <= (SELECT max(ts) FROM events)
        ORDER BY st.user_id, st.start_ts
      """)),

    // ---- streaming → batch composition: gap detection on streamed candles
    // The live-tsdb monitoring shape: the candle table is maintained by a
    // streaming query, and the batch gap detector runs over the drained
    // result — grading that the two layers compose (same oracle as the
    // all-batch gap_detect_1h).
    Reg("streaming_gap_detect",
      (s, dir) => {
        val fmt = "yyyy-MM-dd HH:mm:ss"
        val candles = readEventsStream(s, dir)
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("trades"))
        val present = drain(candles, "complete")
          .select(col("event_type").as("series"), col("window.start").as("bucket"))
        graft.ts.TimeSeries.gapDetect(present, 3600)
          .select(col("series").as("event_type"),
            date_format(col("bucket"), fmt).as("bucket"))
          .orderBy("event_type", "bucket")
      },
      Some("""
        WITH c AS (SELECT event_type AS s, date_trunc('hour', ts) AS b
                   FROM events GROUP BY 1, 2),
        r AS (SELECT s, min(b) AS lo, max(b) AS hi FROM c GROUP BY 1),
        sp AS (SELECT s, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS b FROM r)
        SELECT sp.s AS event_type, strftime(sp.b, '%Y-%m-%d %H:%M:%S') AS bucket
        FROM sp LEFT JOIN c ON c.s = sp.s AND c.b = sp.b
        WHERE c.b IS NULL
        ORDER BY 1, 2
      """)),

    // ---- APPEND-mode streaming → batch gap detection --------------------
    // The scale-true twin of streaming_gap_detect: the candle table is
    // maintained by a WATERMARKED append stream (state drops as windows
    // close), and the batch gap detector runs over what was emitted. The
    // oracle restricts the candle set to closed windows (end <= max(ts)
    // − delay) and spans the spine over exactly those.
    Reg("streaming_gap_detect_append",
      (s, dir) => {
        val fmt = "yyyy-MM-dd HH:mm:ss"
        val candles = readEventsStream(s, dir)
          .withWatermark("ts", "10 minutes")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("trades"))
        val present = drain(candles, "append")
          .select(col("event_type").as("series"), col("window.start").as("bucket"))
        graft.ts.TimeSeries.gapDetect(present, 3600)
          .select(col("series").as("event_type"),
            date_format(col("bucket"), fmt).as("bucket"))
          .orderBy("event_type", "bucket")
      },
      Some("""
        WITH c AS (SELECT event_type AS s, date_trunc('hour', ts) AS b
                   FROM events GROUP BY 1, 2
                   HAVING b + INTERVAL 1 HOUR
                            <= (SELECT max(ts) FROM events) - INTERVAL 10 MINUTES),
        r AS (SELECT s, min(b) AS lo, max(b) AS hi FROM c GROUP BY 1),
        sp AS (SELECT s, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS b FROM r)
        SELECT sp.s AS event_type, strftime(sp.b, '%Y-%m-%d %H:%M:%S') AS bucket
        FROM sp LEFT JOIN c ON c.s = sp.s AND c.b = sp.b
        WHERE c.b IS NULL
        ORDER BY 1, 2
      """)),

    // ---- stream-stream FULL OUTER interval join -------------------------
    // Completes the stream-stream join family (inner, left outer, full
    // outer): purchases and clicks that never matched BOTH emit
    // null-extended on state eviction. Cutoffs mirror Spark's per-side
    // eviction, derived from the interval condition: an unmatched
    // purchase needs no future click with c_ts <= p_ts (p_ts < W); an
    // unmatched click needs no future purchase with p_ts in
    // [c_ts, c_ts + 5 min] (c_ts < W − 5 min); W = min of both sides'
    // filtered-stream watermarks.
    Reg("streaming_join_full_outer",
      (s, dir) => {
        val fmt = "yyyy-MM-dd HH:mm:ss"
        val p = readEventsStream(s, dir).filter(col("event_type") === "purchase")
          .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
            col("ts").as("p_ts"))
          .withWatermark("p_ts", "1 hour")
        val c = readEventsStream(s, dir).filter(col("event_type") === "click")
          .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
            col("value").as("c_val"))
          .withWatermark("c_ts", "1 hour")
        val joined = p.join(c,
          col("p_user") === col("c_user") &&
            col("c_ts") >= col("p_ts") - expr("INTERVAL 5 MINUTES") &&
            col("c_ts") <= col("p_ts"),
          "full_outer")
        drain(joined, "append", 1)
          .select(coalesce(col("p_id"), lit(-1L)).as("p_id"),
            coalesce(col("p_user"), col("c_user")).as("user_id"),
            coalesce(date_format(col("p_ts"), fmt), lit("")).as("p_ts"),
            coalesce(date_format(col("c_ts"), fmt), lit("")).as("c_ts"),
            coalesce(col("c_val"), lit(-1.0)).as("c_val"))
          // total order: unmatched clicks share p_id=-1 and can collide on
          // the second-resolution c_ts string — user_id + c_val break ties
          .orderBy("p_id", "c_ts", "user_id", "c_val")
      },
      Some("""
        WITH W AS (SELECT least(max(ts) FILTER (event_type = 'purchase'),
                          max(ts) FILTER (event_type = 'click'))
                     - INTERVAL 1 HOUR AS w FROM events),
        p AS (SELECT event_id AS p_id, user_id AS p_user, ts AS p_ts
              FROM events WHERE event_type = 'purchase'),
        c AS (SELECT user_id AS c_user, ts AS c_ts, value AS c_val
              FROM events WHERE event_type = 'click')
        SELECT coalesce(p_id, -1) AS p_id,
               coalesce(p_user, c_user) AS user_id,
               coalesce(strftime(p_ts, '%Y-%m-%d %H:%M:%S'), '') AS p_ts,
               coalesce(strftime(c_ts, '%Y-%m-%d %H:%M:%S'), '') AS c_ts,
               coalesce(c_val, -1.0) AS c_val
        FROM p FULL JOIN c
          ON p.p_user = c.c_user
         AND c.c_ts >= p.p_ts - INTERVAL 5 MINUTES AND c.c_ts <= p.p_ts
        WHERE (p_id IS NOT NULL AND c_ts IS NOT NULL)
           OR (c_ts IS NULL AND p_ts < (SELECT w FROM W))
           OR (p_id IS NULL AND c_ts < (SELECT w FROM W) - INTERVAL 5 MINUTES)
        ORDER BY p_id, c_ts, user_id, c_val
      """)),

    // ---- stream-stream RIGHT OUTER interval join ------------------------
    // The remaining stream-stream join type: clicks WITH OR WITHOUT a
    // purchase in the following 5 minutes (the "did this click convert?"
    // framing — the mirror of streaming_join_outer's attribution). An
    // unmatched click emits null-extended once no future purchase can
    // match it: purchases have p_ts in [c_ts, c_ts + 5 min], so eviction
    // needs W > c_ts + 5 min, i.e. c_ts < W − 5 min with W = min of both
    // sides' filtered-stream watermarks — the same click-side cutoff as
    // streaming_join_full_outer, which the oracle mirrors. Null purchase
    // columns coalesce to sentinels (−1 / '') per the Reg.scala doc.
    Reg("streaming_join_right_outer",
      (s, dir) => {
        val fmt = "yyyy-MM-dd HH:mm:ss"
        val p = readEventsStream(s, dir).filter(col("event_type") === "purchase")
          .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
            col("ts").as("p_ts"))
          .withWatermark("p_ts", "1 hour")
        val c = readEventsStream(s, dir).filter(col("event_type") === "click")
          .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
            col("value").as("c_val"))
          .withWatermark("c_ts", "1 hour")
        val joined = p.join(c,
          col("p_user") === col("c_user") &&
            col("c_ts") >= col("p_ts") - expr("INTERVAL 5 MINUTES") &&
            col("c_ts") <= col("p_ts"),
          "right_outer")
        drain(joined, "append", 1)
          .select(coalesce(col("p_id"), lit(-1L)).as("p_id"),
            col("c_user").as("user_id"),
            coalesce(date_format(col("p_ts"), fmt), lit("")).as("p_ts"),
            date_format(col("c_ts"), fmt).as("c_ts"), col("c_val"))
          // unmatched clicks share p_id=-1 — user_id + c_val break the
          // second-resolution c_ts ties (same total order as full outer)
          .orderBy("p_id", "c_ts", "user_id", "c_val")
      },
      Some("""
        WITH W AS (SELECT least(max(ts) FILTER (event_type = 'purchase'),
                          max(ts) FILTER (event_type = 'click'))
                     - INTERVAL 1 HOUR AS w FROM events),
        p AS (SELECT event_id AS p_id, user_id AS p_user, ts AS p_ts
              FROM events WHERE event_type = 'purchase'),
        c AS (SELECT user_id AS c_user, ts AS c_ts, value AS c_val
              FROM events WHERE event_type = 'click')
        SELECT coalesce(p_id, -1) AS p_id,
               c_user AS user_id,
               coalesce(strftime(p_ts, '%Y-%m-%d %H:%M:%S'), '') AS p_ts,
               strftime(c_ts, '%Y-%m-%d %H:%M:%S') AS c_ts,
               c_val
        FROM p RIGHT JOIN c
          ON p.p_user = c.c_user
         AND c.c_ts >= p.p_ts - INTERVAL 5 MINUTES AND c.c_ts <= p.p_ts
        WHERE p_id IS NOT NULL
           OR c_ts < (SELECT w FROM W) - INTERVAL 5 MINUTES
        ORDER BY p_id, c_ts, user_id, c_val
      """)),

    // ---- streaming PARQUET sink: the production persistence path --------
    // streaming_candles_append's pipeline writing through the
    // checkpointed parquet FILE sink (exactly-once manifest commit)
    // instead of the memory sink, then read back from disk — grades the
    // sink format + commit protocol end to end with the same oracle.
    // Restart-mid-stream recovery of this sink is ExactlyOnceSpec's job.
    Reg("streaming_sink_parquet",
      (s, dir) => {
        val fmt = "yyyy-MM-dd HH:mm:ss"
        // fixed per-sfdir scratch, wiped per invocation (checkpoint too —
        // the file sink's manifest only matches a checkpoint it wrote)
        val key = graft.sources.Fixtures.md5Hex(dir)
        val out = s"/dev/shm/graft-sink/candles_$key"
        val candles = ohlcv(readEventsStream(s, dir)
          .withWatermark("ts", "10 minutes")
          .groupBy(window(col("ts"), "1 hour"), col("event_type")))
          .select(date_format(col("window.start"), fmt).as("bucket"),
            col("event_type"), col("open"), col("high"), col("low"), col("close"),
            round(col("volume"), 4).as("volume"), col("trades"))
        runStream(candles, drainParts, s"$CkptRoot/sink_$key", Seq(out))(
          _.format("parquet").outputMode("append").option("path", out))
        s.read.parquet(out).orderBy("bucket", "event_type")
      },
      Some("""
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
               event_type,
               arg_min(value, ts) AS open,
               max(value) AS high,
               min(value) AS low,
               arg_max(value, ts) AS close,
               round(sum(value), 4) AS volume,
               count(*) AS trades
        FROM events
        GROUP BY 1, 2
        HAVING date_trunc('hour', min(ts)) + INTERVAL 1 HOUR
                 <= (SELECT max(ts) FROM events) - INTERVAL 10 MINUTES
        ORDER BY 1, 2
      """)),

    // ---- stream-static broadcast join: streaming fact ⋈ dim table -------
    // The enrichment join every production pipeline runs: the stream side
    // keeps its watermark, the static dim is broadcast (stateless — no
    // join state at all, unlike stream-stream), and the windowed agg then
    // closes in append mode. At 100 TB/day the dim broadcast is refreshed
    // per micro-batch planning cycle; no shuffle touches the stream until
    // the windowed agg. Watermark derives from the purchase-filtered
    // stream, mirrored in the oracle's cutoff subquery.
    Reg("streaming_static_join",
      (s, dir) => {
        val fmt = "yyyy-MM-dd HH:mm:ss"
        val cust = broadcast(graft.Tables(s, dir).customer
          .select(col("c_custkey"), col("c_mktsegment")))
        val agg = readEventsStream(s, dir)
          .filter(col("event_type") === "purchase")
          .withWatermark("ts", "10 minutes")
          .join(cust, col("user_id") === col("c_custkey"))
          .groupBy(window(col("ts"), "1 hour"), col("c_mktsegment"))
          .agg(round(sum(col("value")), 4).as("revenue"),
            count(lit(1)).as("n_purchases"))
        drain(agg, "append")
          .select(date_format(col("window.start"), fmt).as("bucket"),
            col("c_mktsegment"), col("revenue"), col("n_purchases"))
          .orderBy("bucket", "c_mktsegment")
      },
      Some("""
        SELECT strftime(date_trunc('hour', e.ts), '%Y-%m-%d %H:%M:%S') AS bucket,
               c.c_mktsegment,
               round(sum(e.value), 4) AS revenue,
               count(*) AS n_purchases
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
        WHERE e.event_type = 'purchase'
        GROUP BY 1, 2
        HAVING date_trunc('hour', min(e.ts)) + INTERVAL 1 HOUR
                 <= (SELECT max(ts) FROM events WHERE event_type = 'purchase')
                      - INTERVAL 10 MINUTES
        ORDER BY 1, 2
      """)),

    // ---- foreachBatch upsert sink: update-mode merge-by-key -------------
    // The escape hatch for sinks Spark has no native writer for (JDBC
    // upserts, key-value stores): update-mode emits each window's CHANGED
    // aggregate per micro-batch, foreachBatch lands every delta tagged
    // with its batch_id, and the read-back keeps the last write per key —
    // exactly a MERGE. No watermark: update mode then never evicts, so
    // the final update per key equals the full-history aggregate and the
    // batch candle oracle grades the whole loop (unbounded state is the
    // documented trade; the watermarked append path is
    // streaming_sink_parquet's). Scratch is per-sfdir and wiped per call.
    Reg("streaming_foreachbatch_upsert",
      (s, dir) => {
        val fmt = "yyyy-MM-dd HH:mm:ss"
        val key = graft.sources.Fixtures.md5Hex(dir)
        val out = s"/dev/shm/graft-upsert/candles_$key"
        val candles = ohlcv(readEventsStream(s, dir)
          .groupBy(window(col("ts"), "1 hour"), col("event_type")))
          .select(date_format(col("window.start"), fmt).as("bucket"),
            col("event_type"), col("open"), col("high"), col("low"),
            col("close"), round(col("volume"), 4).as("volume"), col("trades"))
        runStream(candles, drainParts, s"$CkptRoot/upsert_$key", Seq(out))(
          _.outputMode("update").foreachBatch { (batch: DataFrame, batchId: Long) =>
            batch.withColumn("batch_id", lit(batchId))
              .write.mode("append").parquet(out)
          })
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("bucket"), col("event_type"))
          .orderBy(col("batch_id").desc)
        s.read.parquet(out)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .drop("rn", "batch_id")
          .orderBy("bucket", "event_type")
      },
      Some(hourlyCandlesOracle)),

    // ---- arbitrary-state running counts via flatMapGroupsWithState ------
    // The second arbitrary-state API, graded: per-user running event
    // counts drained in update mode — the LAST update per key is the
    // total, so the final counts equal a plain groupBy count (the
    // equivalence StatefulOpsSpec asserts batch-side). Grading max(n)
    // rather than last-row-wins keeps the result well-defined however
    // many micro-batches the file source splits the fixture into.
    Reg("streaming_running_counts",
      (s, dir) => {
        val counts = StatefulOps.runningCountsByKey(
            readEventsStream(s, dir), "user_id")
          .toDF("user_id", "n")
        drain(counts, "update")
          .groupBy(col("user_id"))
          .agg(max(col("n")).as("n_events"))
          .orderBy("user_id")
      },
      Some("""
        SELECT user_id, count(*) AS n_events
        FROM events
        GROUP BY 1
        ORDER BY 1
      """)),

    // ---- arbitrary-state EMA via transformWithState, GRADED -------------
    // The Spark-4 arbitrary-state API run as a real streaming query
    // (RocksDB state store), graded per series on the FINAL ema — the
    // one output whose oracle is expressible without a per-row prefix
    // recurrence. alpha = 0.5 exactly: each step is 0.5·v + 0.5·prev —
    // two exact-by-construction halvings and one rounded add — and
    // DuckDB's list_reduce over the ts-ordered value list runs the
    // IDENTICAL IEEE-754 op sequence, so the raw doubles hash-match
    // bit-for-bit after ~2000 steps (no rounding, which itself diverges
    // across engines at representation boundaries).
    Reg("ema_by_series",
      (s, dir) => {
        val ema = StatefulOps.emaBySeries(readEventsStream(s, dir), alpha = 0.5)
          .toDF("event_type", "ts_us", "ema")
        drain(ema, "update", rocksDb = true)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            max_by(col("ema"), col("ts_us")).as("ema_final"))
          .orderBy("event_type")
      },
      Some("""
        SELECT event_type, count(*) AS n_events,
               list_reduce(list(CAST(value AS DOUBLE) ORDER BY ts),
                           (acc, x) -> 0.5 * x + 0.5 * acc) AS ema_final
        FROM events
        GROUP BY 1
        ORDER BY 1
      """)),

    // ---- incremental CEP via transformWithState (round-9) ---------------
    // The bounded-state streaming twin of BOTH batch CEP queries
    // (event_seq_regex + event_seq_error_runs): per-user regex measures
    // computed by StatefulOps.SeqPatternProcessor's O(1) finite automaton
    // instead of a materialized per-user history string — the scale-safe
    // form VERDICT r8 asked for (a hot key with 10^8 events is ~40 bytes
    // of state here, vs a single-task array/string there). All four
    // counters are monotone, so the update-mode drain grades on max()
    // per key regardless of how the file source batches the fixture.
    // Oracle = the batch queries' oracle, joined: the string_agg replay
    // of the same event-code sequence, regex-counted. Automaton/regex
    // equivalence is argued in the SeqPatternProcessor scaladoc and
    // property-tested in StatefulOpsSpec (random code strings, multi-
    // epoch in-order splits vs one-shot Java regex).
    Reg("streaming_event_seq_cep",
      (s, dir) => {
        val cep = StatefulOps.seqPatternCounts(readEventsStream(s, dir))
          .toDF("user_id", "n_events", "n_conv", "n_alt_conv",
            "max_error_run", "n_error_pairs")
        drain(cep, "update", rocksDb = true)
          .groupBy(col("user_id"))
          .agg(max(col("n_events")).as("n_events"),
            max(col("n_conv")).as("n_conv"),
            max(col("n_alt_conv")).as("n_alt_conv"),
            max(col("max_error_run")).as("max_error_run"),
            max(col("n_error_pairs")).as("n_error_pairs"))
          .orderBy("user_id")
      },
      Some("""
        WITH s AS (SELECT user_id,
                          count(*) AS n_events,
                          string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS seq
                   FROM events GROUP BY 1)
        SELECT user_id, n_events,
               CAST(len(regexp_extract_all(seq, 'v[ce]*p')) AS BIGINT) AS n_conv,
               CAST(len(regexp_extract_all(seq, '(s|v)c*p')) AS BIGINT) AS n_alt_conv,
               CAST(coalesce(list_max(list_transform(regexp_extract_all(seq, 'e+'), x -> length(x))), 0) AS BIGINT) AS max_error_run,
               CAST(len(regexp_extract_all(seq, 'ee')) AS BIGINT) AS n_error_pairs
        FROM s ORDER BY user_id
      """)),

    // ---- streaming COUNT-MIN SKETCH maintenance (round-9) ---------------
    // The mergeable-summary-as-streaming-state shape: a CMS is additive
    // across micro-batches, so the sketch IS a streaming aggregation —
    // the d=4 × w=64 cell grid lives in the state store (256 keys,
    // CONSTANT state however long the stream runs) and every batch folds
    // its rows in via ordinary partial aggregation. No custom state code
    // needed: that's the point of choosing mergeable summaries for
    // streams. Cell counts are monotone → last update per cell = max().
    // The estimate join then runs batch-side against exact per-user
    // counts, same contract as cms_heavy_hitters (est ≥ cnt, one-sided
    // overcount graded). Oracle replays the identical sketch in SQL.
    Reg("streaming_cms_users",
      (s, dir) => {
        def bucket(rCol: org.apache.spark.sql.Column, keyCol: org.apache.spark.sql.Column) =
          graft.text.TextOps.hash60(concat(lit("cm"), rCol, lit("_"), keyCol)) % 64
        val cellsS = readEventsStream(s, dir)
          .select(col("user_id"), explode(expr("array(0, 1, 2, 3)")).as("r"))
          .withColumn("bucket", bucket(col("r"), col("user_id")))
          .groupBy(col("r"), col("bucket")).count()
        val cells = drain(cellsS, "update", 4)
          .groupBy(col("r"), col("bucket")).agg(max(col("count")).as("cell"))
        val exact = graft.Tables(s, dir).events
          .groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
        exact
          .select(col("user_id"), col("cnt"), explode(expr("array(0, 1, 2, 3)")).as("r"))
          .withColumn("bucket", bucket(col("r"), col("user_id")))
          .join(cells, Seq("r", "bucket"))
          .groupBy(col("user_id"), col("cnt")).agg(min(col("cell")).as("est"))
          .select(col("user_id"), col("cnt"), col("est"),
            (col("est") - col("cnt")).as("overcount"))
          .orderBy("user_id")
      },
      Some("""
        WITH u AS (SELECT user_id FROM events),
        rows_ AS (SELECT user_id, r.r,
                         ('0x' || substr(md5('cm' || r.r || '_' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 64 AS bucket
                  FROM u, range(4) r(r)),
        cells AS (SELECT r, bucket, count(*) AS cell FROM rows_ GROUP BY 1, 2),
        exact AS (SELECT user_id, count(*) AS cnt FROM u GROUP BY 1),
        est AS (SELECT e.user_id, e.cnt, min(c.cell) AS est
                FROM exact e
                JOIN range(4) r(r) ON true
                JOIN cells c ON c.r = r.r
                 AND c.bucket = ('0x' || substr(md5('cm' || r.r || '_' || CAST(e.user_id AS VARCHAR)), 1, 15))::BIGINT % 64
                GROUP BY 1, 2)
        SELECT user_id, cnt, est, est - cnt AS overcount
        FROM est ORDER BY user_id
      """)),

    // ---- streaming fixed-bin histogram → quantile read-out (round-10) ---
    // The third mergeable-sketch semiring member beside streaming_cms_
    // users (sum-fold) and streaming_hll_registers (max-fold): a
    // fixed-bin histogram is ALSO additive across micro-batches, so the
    // per-(type, bin) cell grid lives in the state store as an ordinary
    // streaming aggregation — ≤ 5 types × 20 bins = 100 keys of
    // CONSTANT state for an unbounded stream, and histograms from any
    // partitioning of the input merge bin-wise (this is what t-digest
    // is NOT: rank-based summaries aren't incremental, which is exactly
    // why production streaming quantiles are histogram/KLL-shaped; the
    // batch tdigest_clusters covers the mergeable-by-reclustering
    // form). Bins are 25-currency-wide on exact cents (value domain
    // [0, 500) → bins 0..19, deterministic on both engines). Quantile
    // read-out runs batch-side after the drain: smallest bin whose
    // cumulative count reaches the p50/p90 rank — the standard
    // histogram-quantile estimator, exact integer comparisons only.
    // Cell counts are monotone → last update per cell = max().
    Reg("streaming_histogram_quantile",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val cellsS = readEventsStream(s, dir)
          .select(col("event_type"),
            expr("CAST(round(value * 100) AS BIGINT) div 2500").as("bin"))
          .groupBy(col("event_type"), col("bin")).count()
        val bins = drain(cellsS, "update", 4)
          .groupBy(col("event_type"), col("bin")).agg(max(col("count")).as("cnt"))
        val wc = Window.partitionBy(col("event_type")).orderBy(col("bin"))
          .rowsBetween(Window.unboundedPreceding, 0)
        val wa = Window.partitionBy(col("event_type"))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        bins.withColumn("cum", sum(col("cnt")).over(wc))
          .withColumn("total", sum(col("cnt")).over(wa))
          .groupBy(col("event_type"))
          .agg(max(col("total")).as("n"), count(lit(1)).as("n_bins"),
            min(when(col("cum") * 2L >= col("total"), col("bin"))).as("p50_bin"),
            min(when(col("cum") * 10L >= col("total") * 9L, col("bin"))).as("p90_bin"))
          .orderBy("event_type")
      },
      Some("""
        WITH b AS (SELECT event_type,
                          CAST(round(value * 100) AS BIGINT) // 2500 AS bin,
                          count(*) AS cnt
                   FROM events GROUP BY 1, 2),
        w AS (SELECT *,
                     sum(cnt) OVER (PARTITION BY event_type ORDER BY bin
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                     sum(cnt) OVER (PARTITION BY event_type) AS total
              FROM b)
        SELECT event_type, CAST(max(total) AS BIGINT) AS n, count(*) AS n_bins,
               CAST(min(CASE WHEN cum * 2 >= total THEN bin END) AS BIGINT) AS p50_bin,
               CAST(min(CASE WHEN cum * 10 >= total * 9 THEN bin END) AS BIGINT) AS p90_bin
        FROM w GROUP BY 1 ORDER BY 1
      """)),

    // ---- streaming PSI drift against a static baseline (round-10) -------
    // The production shape of psi_value_drift: in deployment the
    // baseline decile edges are a MODEL ARTIFACT (computed once from a
    // reference window, then broadcast to the ingest stream), and the
    // current-window histogram accumulates incrementally — so drift
    // monitoring composes a stream-static broadcast join with the
    // mergeable-histogram streaming state (≤ 50 (type, bin) keys,
    // constant for an unbounded stream; counts monotone → max() per
    // cell). Here the first half of the month is the baseline (edges
    // localCheckpointed = the trained artifact), the streamed second
    // half is the current window, and the PSI read-out runs batch-side
    // after the drain. Binning the stream is a map-side array filter
    // over the broadcast 9-edge list — no per-event shuffle beyond the
    // histogram agg. Count-equivalent to the batch query by
    // construction, so the SAME oracle grades both
    // (TsQueries.psiOracle, shared verbatim — edits to both or
    // neither).
    Reg("streaming_psi_drift",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val e = graft.Tables(s, dir).events
          .select(col("event_type"),
            expr("CAST(round(value * 100) AS BIGINT)").as("c"),
            expr("CASE WHEN day(ts) <= 15 THEN 0 ELSE 1 END").as("half"))
        val base = e.filter(col("half") === 0)
        val wN = Window.partitionBy(col("event_type")).orderBy(col("c"))
        val edges = base.withColumn("tile", ntile(10).over(wN))
          .filter(col("tile") <= 9)
          .groupBy(col("event_type"), col("tile")).agg(max(col("c")).as("edge"))
          .groupBy(col("event_type"))
          .agg(sort_array(collect_list(col("edge"))).as("edges"))
          .localCheckpoint()
        val curS = readEventsStream(s, dir)
          .filter(expr("day(ts) > 15"))
          .select(col("event_type"),
            expr("CAST(round(value * 100) AS BIGINT)").as("c"))
          .join(broadcast(edges), "event_type")
          .withColumn("bin", expr("size(filter(edges, x -> c > x))"))
          .groupBy(col("event_type"), col("bin")).count()
        val cur = drain(curS, "update", 4)
          .groupBy(col("event_type"), col("bin")).agg(max(col("count")).as("cq"))
        val bb = base.join(broadcast(edges), "event_type")
          .withColumn("bin", expr("size(filter(edges, x -> c > x))"))
          .groupBy(col("event_type"), col("bin")).agg(count(lit(1)).as("cp"))
        val binned = bb.join(cur, Seq("event_type", "bin"), "full_outer")
          .withColumn("cp", coalesce(col("cp"), lit(0L)))
          .withColumn("cq", coalesce(col("cq"), lit(0L)))
        val tot = binned.groupBy(col("event_type"))
          .agg(sum(col("cp")).as("np"), sum(col("cq")).as("nq"))
        binned.join(broadcast(tot), "event_type")
          .withColumn("term_um", expr(
            """CAST(round(((CAST(cp + 1 AS DOUBLE) / CAST(np + 10 AS DOUBLE))
               - (CAST(cq + 1 AS DOUBLE) / CAST(nq + 10 AS DOUBLE)))
               * ln((CAST(cp + 1 AS DOUBLE) * CAST(nq + 10 AS DOUBLE))
                    / (CAST(np + 10 AS DOUBLE) * CAST(cq + 1 AS DOUBLE)))
               * CAST(1000000 AS DOUBLE)) AS BIGINT)"""))
          .groupBy(col("event_type"))
          .agg(max(col("np")).as("n_base"), max(col("nq")).as("n_cur"),
            count(lit(1)).as("n_bins"), sum(col("term_um")).as("psi_um"))
          .orderBy("event_type")
      },
      Some(graft.ts.TsQueries.psiOracle)),

    // ---- funnel-abandonment via EVENT-TIME TIMERS (round-9) -------------
    // The other half of streaming CEP: streaming_event_seq_cep counts
    // patterns that COMPLETE; this alarms patterns that DON'T complete
    // in time — a view with no purchase inside 4 h of event time is
    // abandoned once the watermark passes its deadline (the funnel-
    // abandonment monitor; FunnelTimeoutProcessor holds pending views
    // bounded by the watermark horizon and at most one timer per key).
    // Cutoff mirrors Spark's ms-granularity timers EXACTLY: abandoned
    // iff epoch_ms(v) + 4h-in-ms <= epoch_ms(max ts) (integer floor —
    // the timeout is whole hours so the floor distributes); verified
    // zero floor-boundary collisions at all three sfs, so the <= vs <
    // timer-firing edge cannot bite this fixture family. Conversion
    // (p.ts in (v.ts, v.ts + 4h]) is exact µs on both engines. Both
    // counters monotone → max() per key grades any batching.
    Reg("streaming_funnel_timeout",
      (s, dir) => {
        val f = StatefulOps.funnelTimeouts(readEventsStream(s, dir),
            timeoutUs = 4L * 3600L * 1000000L, delay = "0 seconds")
          .toDF("user_id", "n_views", "n_abandoned")
        drain(f, "update", rocksDb = true)
          .groupBy(col("user_id"))
          .agg(max(col("n_views")).as("n_views"),
            max(col("n_abandoned")).as("n_abandoned"))
          .orderBy("user_id")
      },
      Some("""
        WITH wm AS (SELECT epoch_us(max(ts)) // 1000 AS wm_ms FROM events),
        v AS (SELECT user_id, ts, epoch_us(ts) AS us FROM events WHERE event_type = 'view'),
        p AS (SELECT user_id, epoch_us(ts) AS us FROM events WHERE event_type = 'purchase'),
        j AS (SELECT v.user_id, v.us,
                     EXISTS (SELECT 1 FROM p
                             WHERE p.user_id = v.user_id
                               AND p.us > v.us
                               AND p.us <= v.us + 14400000000) AS conv
              FROM v)
        SELECT user_id,
               count(*) AS n_views,
               CAST(sum(CASE WHEN NOT conv
                              AND us // 1000 + 14400000 <= (SELECT wm_ms FROM wm)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_abandoned
        FROM j GROUP BY 1 ORDER BY 1
      """)),

    // ---- streaming dedup by key (event_id) in append mode ---------------
    Reg("streaming_dedup_counts",
      (s, dir) => {
        val deduped = readEventsStream(s, dir).dropDuplicates("event_id")
        drain(deduped, "append", 4)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), countDistinct(col("event_id")).as("n_ids"))
          .orderBy("event_type")
      },
      Some("""
        SELECT event_type, count(DISTINCT event_id) AS n, count(DISTINCT event_id) AS n_ids
        FROM events
        GROUP BY 1 ORDER BY 1
      """)),

    // ---- streaming dedup with WATERMARKED state (the unbounded-stream
    // formulation: per-key state expires once the watermark passes the
    // first occurrence + delay, so state size tracks the watermark
    // horizon, not stream history — see StreamingDedupSpec for the
    // expiry/re-emit semantics MemoryStream test) -------------------------
    Reg("streaming_dedup_watermark",
      (s, dir) => {
        val deduped = readEventsStream(s, dir)
          .withWatermark("ts", "1 hour")
          .dropDuplicatesWithinWatermark("event_id")
        drain(deduped, "append", 4)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), countDistinct(col("event_id")).as("n_ids"))
          .orderBy("event_type")
      },
      Some("""
        SELECT event_type, count(DISTINCT event_id) AS n, count(DISTINCT event_id) AS n_ids
        FROM events
        GROUP BY 1 ORDER BY 1
      """)),

    // ---- streaming SemDeDup: incremental semantic dedup (foreachBatch) --
    // The corpus-ingest shape of semdedup_keep: embeddings arrive in
    // micro-batches (3 range-partitioned files, one per trigger — enough
    // to exercise batch-vs-store incrementality twice; the drain floor ×
    // batch count dominates at toy scale, so the fixture stays minimal
    // while StreamingSemDedupSpec drives its own interleaved files) and each
    // batch is compared ONLY against itself + the accumulated store — an
    // incremental cid-keyed equi-join, never a recompute over history.
    // Dup evidence (greater-id, lesser-id) pairs append to a pairs log;
    // the final keep-list is min(dup_of) per vector over that log. The
    // rule "dropped iff ANY same-cluster smaller-id neighbor >= tau"
    // is ORDER-INDEPENDENT (every pair is examined exactly when its
    // later member arrives, whatever the file order — see
    // StreamingSemDedupSpec's reversed-order assertion), so the result
    // equals the batch query bit-for-bit and the SAME oracle grades both
    // (VecQueries.semdedupKeepOracle, shared verbatim). Centroids come
    // from the session-shared Lloyd build — in production the clustering
    // model is trained on a prior corpus snapshot and broadcast to the
    // ingest stream, exactly this dataflow. Scratch is per-sfdir and
    // wiped per invocation (the foreachbatch_upsert discipline).
    Reg("streaming_semdedup_keep",
      (s, dir) => semdedupIncrementalRun(s, dir,
        graft.sources.Fixtures.ensureEmbeddingStreamFiles(s, dir, n = 3),
        graft.sources.Fixtures.md5Hex(dir)),
      Some(graft.vec.VecQueries.semdedupKeepOracle)),

    // ---- streaming perceptual-hash near-dup screening (round-11) --------
    // The multimodal pillar's incremental twin (the semdedup/SymSpell
    // pattern applied to payload fingerprints): documents arrive in 3
    // micro-batches; each batch's phash32 fingerprints are banded against
    // the ALL-SO-FAR store via the 4×8-bit chunk equi-join (Σ bucket² per
    // batch, never batch × corpus), hd ≤ 3 pairs recorded as
    // (greatest, least). Every unordered pair has a later-arriving member
    // ⇒ the incremental screen finds each pair EXACTLY once, and because
    // the stream files are doc_id-range-partitioned, first-arrival-wins
    // ≡ keep-min-id — which is what the batch oracle replays (dup_of =
    // smallest lower-id Hamming neighbor, kept = no such neighbor).
    // ---- streaming weighted-jaccard near-dup screen (round-12) ----------
    // The FIFTH incremental-screen member (semdedup / SymSpell / phash /
    // MG / this): documents arrive in 3 micro-batches; each batch's
    // distinct unigrams band against the all-so-far store on RUNNING-df
    // [2, 64] keys (df monotone ⇒ candidate coverage under any batching
    // — a pair whose shared gram ends in-band was in-band when its later
    // member arrived), candidates recorded as (least, greatest); the
    // read-out re-scores candidates exactly on the final corpus (final
    // band, final idf, final sums) so extras die at the ≥ 0.3 threshold.
    // Grades against the batch weighted_jaccard_pairs SQL verbatim
    // (shared-oracle pattern; see wjIncrementalRun's coverage proof).
    Reg("streaming_wj_neardup",
      (s, dir) => wjIncrementalRun(s, dir,
        graft.sources.Fixtures.ensureDocStreamFiles(s, dir, n = 3),
        graft.sources.Fixtures.md5Hex(dir)),
      Some(graft.text.TextQueries.weightedJaccardOracle)),

    Reg("streaming_dsir_weights",
      (s, dir) => dsirIncrementalRun(s, dir,
        graft.sources.Fixtures.ensureDocStreamFiles(s, dir, n = 3),
        graft.sources.Fixtures.md5Hex(dir)),
      Some(graft.text.TextQueries.dsirOracle)),

    Reg("streaming_decontam_overlap",
      (s, dir) => decontamIncrementalRun(s, dir,
        graft.sources.Fixtures.ensureDocStreamFiles(s, dir, n = 3),
        graft.sources.Fixtures.md5Hex(dir)),
      Some(graft.text.TextQueries.decontaminationOracle)),

    Reg("streaming_phash_neardup",
      (s, dir) => phashIncrementalRun(s, dir,
        graft.sources.Fixtures.ensureDocStreamFiles(s, dir, n = 3),
        graft.sources.Fixtures.md5Hex(dir)),
      Some(s"""
        WITH d AS (SELECT doc_id, text, length(text) AS len,
                          list_sum(list_transform(range(1, length(text) + 1),
                            i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))) AS total
                   FROM documents WHERE length(text) >= 32),
        e AS (SELECT doc_id, k, total,
                     list_sum(list_transform(
                       range((k * len) // 32 + 1, ((k + 1) * len) // 32 + 1),
                       i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))) AS energy
              FROM (SELECT *, unnest(range(0, 32)) AS k FROM d)),
        f AS (SELECT doc_id,
                     CAST(sum(CASE WHEN energy * 32 > total
                                   THEN CAST(1 AS BIGINT) << k ELSE 0 END) AS BIGINT) AS ph
              FROM e GROUP BY 1),
        pr AS (SELECT a.doc_id AS lo, b.doc_id AS hi
               FROM f a JOIN f b ON a.doc_id < b.doc_id
               WHERE bit_count(xor(a.ph, b.ph)) <= 3),
        dup AS (SELECT hi AS doc_id, CAST(min(lo) AS BIGINT) AS dup_of
                FROM pr GROUP BY 1)
        SELECT f.doc_id, f.ph AS phash,
               CASE WHEN dup.dup_of IS NULL THEN CAST(1 AS BIGINT)
                    ELSE CAST(0 AS BIGINT) END AS kept,
               dup.dup_of
        FROM f LEFT JOIN dup USING (doc_id)
        ORDER BY f.doc_id
      """)),

    // ---- streaming HLL register maintenance (round-9) -------------------
    // streaming_cms_users' max-merge sibling: a CMS folds by SUM, an HLL
    // register file folds by MAX — together they cover both mergeable-
    // sketch semirings with zero custom state code. The m = 64 register
    // file (idx = h60 mod 64, rho = NLZ+1 in the remaining 54-bit
    // window, exactly hll_sparse_mode's portable arithmetic) lives in
    // the state store as an ordinary max() aggregation — CONSTANT ≤ 64
    // keys of state for an unbounded stream, and registers from any
    // partitioning of the input merge to the same file (max is
    // commutative/idempotent), which is the whole reason HLL unions are
    // free at 100 TB. Update-mode re-emissions re-max() batch-side; the
    // oracle replays the register file over the same user domain.
    Reg("streaming_hll_registers",
      (s, dir) => {
        val regs = readEventsStream(s, dir)
          .select(graft.text.TextOps.hash60(
            concat(lit("hll_"), col("user_id").cast("string"))).as("h"))
          .selectExpr("h % 64 AS idx", "h div 64 AS rest")
          .selectExpr("idx",
            "CAST(CASE WHEN rest = 0 THEN 55 ELSE 55 - length(bin(rest)) END AS BIGINT) AS rho")
          .groupBy(col("idx")).agg(max(col("rho")).as("rho"))
        drain(regs, "update", 4)
          .groupBy(col("idx")).agg(max(col("rho")).as("rho"))
          .orderBy("idx")
      },
      Some("""
        WITH k AS (SELECT ('0x' || substr(md5('hll_' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
                   FROM events),
        r AS (SELECT h % 64 AS idx,
                     CASE WHEN h // 64 = 0 THEN 55
                          ELSE 55 - length(bin(h // 64)) END AS rho
              FROM k)
        SELECT idx, CAST(max(rho) AS BIGINT) AS rho
        FROM r GROUP BY 1 ORDER BY idx
      """)),

    // ---- streaming last-touch attribution (round-9) ---------------------
    // The O(1)-state streaming twin of attribution_last_touch: the state
    // store remembers ONE touch per user (~30 bytes) and each purchase is
    // attributed the moment it arrives — the form that serves attribution
    // live at 100 TB/day, where the batch window pass would re-sort the
    // full history. Same cross-batch contract as streaming_event_seq_cep
    // (event-time-ordered arrival; in-batch sort by (ts, event_id));
    // every purchase emits exactly once, so the drain needs no re-agg.
    Reg("streaming_attribution",
      (s, dir) => {
        val att = StatefulOps
          .lastTouchAttribution(readEventsStream(s, dir), 86400000000L)
          .toDF("purchase_id", "user_id", "ts_us", "value_cents",
            "touch_id", "touch_type", "mins_since_touch")
        drain(att, "update", 4, rocksDb = true)
          .select(col("purchase_id"), col("user_id"),
            date_format(timestamp_micros(col("ts_us")), "yyyy-MM-dd HH:mm:ss")
              .as("purchase_ts"),
            col("value_cents"), col("touch_id"), col("touch_type"),
            col("mins_since_touch"))
          .orderBy("purchase_id")
      },
      Some(graft.ts.TsQueries.attributionOracleSql)),

    // ---- streaming edit-distance-1 pair discovery (round-9) -------------
    // The incremental twin of editdist1_pairs: the token universe arrives
    // in micro-batches and the SymSpell deletion-neighborhood index is
    // maintained as a persisted store (the streaming_semdedup_keep store
    // lifecycle applied to strings). Per batch: explode the new tokens'
    // O(len) deletion variants, append them to the index, and equi-join
    // ONLY the new variants against the full index — so a pair is
    // discovered in the batch where its later token arrives, candidate
    // work stays proportional to new-tokens × len whatever the index
    // size, and it is NEVER all-pairs. The final pair set equals the
    // batch query's by the neighborhood-intersection theorem, whatever
    // the arrival order — the same monotone-accumulation argument as the
    // incremental semdedup. Oracle: the brute levenshtein ≤ 1 self-join
    // over the same token domain (= editdist1_pairs' contract).
    Reg("streaming_editdist_pairs",
      (s, dir) => editdistIncrementalRun(s, dir,
        graft.sources.Fixtures.ensureTokenStreamFiles(s, dir, n = 3),
        graft.sources.Fixtures.md5Hex(dir)),
      Some("""
        WITH t AS (SELECT unnest(string_split(p_name, ' ')) AS tok FROM part),
        c AS (SELECT tok, count(*) AS cnt FROM t GROUP BY 1)
        SELECT a.tok AS tok_a, a.cnt AS cnt_a, b.tok AS tok_b, b.cnt AS cnt_b
        FROM c a, c b
        WHERE a.tok < b.tok AND levenshtein(a.tok, b.tok) <= 1
        ORDER BY tok_a, tok_b
      """)),

    // ---- streaming incremental Pareto frontier (round-9) ----------------
    // Online multi-objective curation: the per-language document skyline
    // (n_tokens × n_vocab) maintained INCREMENTALLY via transformWithState
    // — state is only the current frontier (insert-or-drop + evict-
    // dominated), never the corpus. The fold is arrival-order independent
    // across ANY batch split (SkylineSpec property), so this op carries
    // no cross-batch ordering contract; the 3-file range-partitioned
    // copy + maxFilesPerTrigger=1 makes the incrementality real in the
    // graded run. Each batch re-emits a key's frontier with a per-key
    // sequence number; the drain keeps the highest-seq emission per
    // lang, which equals the batch skyline — the same two-window oracle
    // as pareto_frontier_docs, partitioned by lang.
    Reg("streaming_pareto_frontier",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val path = graft.sources.Fixtures.ensureDocStreamFiles(s, dir, n = 3)
        val schema = s.read.parquet(path).schema // footer-only probe
        val t = graft.text.TextOps.tokens(col("text"))
        val pts = fileStream(s, schema, path)
          .select(col("lang"), col("doc_id").cast("long"),
            size(t).cast("long"), size(array_distinct(t)).cast("long"))
        val out = StatefulOps.skylineByKey(pts)
          .toDF("lang", "seq", "doc_id", "n_tokens", "n_vocab")
        drain(out, "update", rocksDb = true)
          .withColumn("max_seq", max(col("seq")).over(
            Window.partitionBy(col("lang"))))
          .filter(col("seq") === col("max_seq"))
          .select(col("lang"), col("doc_id"), col("n_tokens"), col("n_vocab"))
          .orderBy(col("lang"), col("n_tokens").desc, col("doc_id"))
      },
      Some("""
        WITH d AS (SELECT doc_id, lang,
                          len(string_split(trim(text), ' ')) AS n_tokens,
                          len(list_distinct(string_split(trim(text), ' '))) AS n_vocab
                   FROM documents),
        w AS (SELECT *,
                     max(n_vocab) OVER (PARTITION BY lang ORDER BY n_tokens DESC
                       RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS best_longer,
                     max(n_vocab) OVER (PARTITION BY lang, n_tokens) AS best_tie
              FROM d)
        SELECT lang, doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
               CAST(n_vocab AS BIGINT) AS n_vocab
        FROM w
        WHERE (best_longer IS NULL OR best_longer < n_vocab)
          AND best_tie = n_vocab
        ORDER BY lang, n_tokens DESC, doc_id
      """))
  )

  /** Incremental editdist core behind `streaming_editdist_pairs`; srcDir
    * and scratch tag injected so a spec can feed alternative splits and
    * assert arrival-order independence against the batch result. */
  private[graft] def editdistIncrementalRun(s: SparkSession, dir: String,
      srcDir: String, tag: String): DataFrame = {
    val store = s"/dev/shm/graft-editdist/store_$tag"
    val pairsOut = s"/dev/shm/graft-editdist/pairs_$tag"
    val tokSchema = StructType(Seq(
      StructField("tok", StringType), StructField("cnt", LongType)))
    screen(fileStream(s, tokSchema, srcDir), s"editdist_$tag", Seq(store, pairsOut)) {
      (batch, bid, stores) =>
        val vars = batch.select(col("tok"), col("cnt"), explode(expr(
          """array_union(array(tok),
             transform(sequence(1, length(tok)),
               i -> concat(substring(tok, 1, i - 1), substring(tok, i + 1, length(tok)))))"""))
          .as("v"))
        // round 17 (VERDICT r16 #1): the index side is the in-session
        // accumulated union, not a rescan of the whole parquet store;
        // the batch side reuses the read-back, so the variant explode
        // runs once per batch instead of twice
        val (varsB, all) = stores.append(vars, store, bid)
        val pairs = varsB
          .select(col("v"), col("tok").as("ntok"), col("cnt").as("ncnt"))
          .join(all.select(col("v"), col("tok").as("otok"), col("cnt").as("ocnt")), "v")
          .filter(col("ntok") =!= col("otok"))
          .select(
            when(col("ntok") < col("otok"), col("ntok")).otherwise(col("otok")).as("tok_a"),
            when(col("ntok") < col("otok"), col("ncnt")).otherwise(col("ocnt")).as("cnt_a"),
            when(col("ntok") < col("otok"), col("otok")).otherwise(col("ntok")).as("tok_b"),
            when(col("ntok") < col("otok"), col("ocnt")).otherwise(col("ncnt")).as("cnt_b"))
          .distinct()
          .filter(levenshtein(col("tok_a"), col("tok_b")) <= 1)
        writeBatch(pairs, pairsOut, bid)
    }
    // a pair can surface twice (both endpoints in one batch match each
    // other through the index's copy of each) — dedup once at the end
    // drop the batch= partition column BEFORE distinct: a pair surfacing
    // in two batches is one pair, and the column must not leak into the
    // graded schema
    s.read.parquet(pairsOut).drop("batch")
      .distinct().orderBy("tok_a", "tok_b")
  }

  /** Incremental phash near-dup drain (see streaming_phash_neardup's
    * registration comment for semantics). Per micro-batch: fingerprint,
    * append to the store, chunk-band the batch against all-so-far, record
    * hd ≤ 3 pairs as (greatest, least); read-out joins the store with the
    * min dup candidate per doc. Store/pairs/ckpt keyed on the sf dir and
    * wiped per invocation (the file-sink scratch invariant). */
  private[graft] def phashIncrementalRun(s: SparkSession, dir: String,
      srcDir: String, tag: String): DataFrame = {
    val store = s"/dev/shm/graft-phash/store_$tag"
    val pairsOut = s"/dev/shm/graft-phash/pairs_$tag"
    screen(fileStream(s, docSchema, srcDir), s"phash_$tag", Seq(store, pairsOut)) {
      (batch, bid, stores) =>
        val fp = graft.mm.MultiModal.phash32(batch.select(col("doc_id"),
          encode(col("text"), "UTF-8").as("payload")))
        // the read-out emits one row per stored fingerprint with no
        // dedup, so the keyed store is what keeps a replay from
        // duplicating output rows.
        // round 17 (VERDICT r16 #1): store side = in-session union, not
        // a full parquet rescan; batch side = the read-back, so the
        // 32-term fingerprint pass runs once per batch instead of twice
        val (fpB, all) = stores.append(fp, store, bid)
        def chunked(df: DataFrame, idc: String, phc: String) =
          df.select(col("doc_id").as(idc), col("phash").as(phc),
            posexplode(expr(
              s"transform(sequence(0, 3), c -> shiftright(phash, c * 8) & 255)"))
              .as(Seq("c", "ck")))
        val pairs = chunked(fpB, "nid", "nph")
          .join(chunked(all, "oid", "oph"), Seq("c", "ck"))
          .filter(col("nid") =!= col("oid"))
          .filter(expr("bit_count(nph ^ oph) <= 3"))
          .select(greatest(col("nid"), col("oid")).as("doc_id"),
            least(col("nid"), col("oid")).as("dup_cand"))
          .distinct()
        writeBatch(pairs, pairsOut, bid)
    }
    val st = s.read.parquet(store)
    val d = s.read.parquet(pairsOut)
      .groupBy(col("doc_id")).agg(min(col("dup_cand")).as("dup_of"))
    st.join(d, Seq("doc_id"), "left")
      .select(col("doc_id"), col("phash"),
        when(col("dup_of").isNull, 1L).otherwise(0L).as("kept"),
        col("dup_of"))
      .orderBy("doc_id")
  }

  /** Incremental weighted-jaccard near-dup screen behind
    * `streaming_wj_neardup` — the FIFTH incremental-screen member
    * (semdedup / SymSpell / phash / MG candidates / this), applying the
    * candidate-superset + exact-recount pattern to the idf-weighted
    * dedup rung. Per micro-batch: append the batch's distinct unigrams
    * to the store, band the BATCH against all-so-far on (lang, source,
    * w) keys whose RUNNING df sits in the [2, ceiling] band (df only
    * grows, so a pair whose shared gram ENDS in-band was in-band when
    * its later member arrived → coverage under any batching; keys that
    * later leave the band only add candidates), record (least, greatest)
    * id pairs. Read-out re-scores candidates EXACTLY on the final store
    * (final df band, final block-relative idf, final doc sums — the
    * batch query's scoring joins semi-joined to candidates), so extras
    * die at the threshold and the output equals the batch SQL verbatim.
    * Per-batch candidate work is Σ over banded keys of batch×store
    * occurrences — store side ≤ ceiling per key, never batch × corpus.
    *
    * The running df band is maintained ADDITIVELY (round 13, VERDICT
    * r12 #4): each batch appends its per-key counts to a dedicated
    * (lang, source, w) → cnt store and the band is the summed counts —
    * per-batch df cost grows with the VOCABULARY, not with total stored
    * occurrences (the round-12 form re-aggregated the entire occurrence
    * store every micro-batch: Σ store-size ≈ n²/(2·batch) cumulative
    * over a long stream). The summed counts equal the full re-agg
    * exactly, so the candidate set — and the graded output — is
    * unchanged. The candidate join still SCANS the occurrence store per
    * batch (inherent to pairing the batch against earlier occurrences);
    * the escalation if that scan ever dominates is a gram-hash-bucketed
    * store layout, not a different df rule. */
  private[graft] def wjIncrementalRun(s: SparkSession, dir: String,
      srcDir: String, tag: String): DataFrame = {
    val ceil = graft.text.TextQueries.JaccardDfCeiling
    val store = s"/dev/shm/graft-wj/store_$tag"
    val dfStore = s"/dev/shm/graft-wj/df_$tag"
    val docsStore = s"/dev/shm/graft-wj/docs_$tag"
    val pairsOut = s"/dev/shm/graft-wj/pairs_$tag"
    screen(fileStream(s, docSchema, srcDir), s"wj_$tag",
        Seq(store, dfStore, docsStore, pairsOut)) { (batch, bid, stores) =>
      val toks = batch.select(col("lang"), col("source"), col("doc_id"),
        explode(array_distinct(graft.text.TextOps.tokens(col("text")))).as("w"))
      // the occurrence store feeds the read-out's df COUNTS and
      // docsStore feeds n_docs, so the keyed stores are what keep a
      // replay from doubling both and shifting idf weights.
      // round 17 (VERDICT r16 #1): the occurrence-store side of the
      // candidate join is the in-session union, not a full parquet
      // rescan per trigger; the batch side (and the df-count write
      // below) reuse the read-back, so the tokenize+explode pass runs
      // once per batch instead of three times
      val (toksB, all) = stores.append(toks, store, bid)
      val (_, dfAll) = stores.append(
        toksB.groupBy(col("lang"), col("source"), col("w")).agg(count(lit(1)).as("cnt")),
        dfStore, bid)
      writeBatch(batch.select(col("lang"), col("source"), col("doc_id")), docsStore, bid)
      // running df = summed per-batch counts (≡ counting the full
      // occurrence store, at vocabulary- not occurrence-cost)
      val banded = dfAll
        .groupBy(col("lang"), col("source"), col("w"))
        .agg(sum(col("cnt")).as("df"))
        .filter(col("df") >= 2 && col("df") <= ceil)
        .select(col("lang"), col("source"), col("w"))
      val pairs = toksB.join(banded, Seq("lang", "source", "w"))
        .select(col("lang"), col("source"), col("w"), col("doc_id").as("nid"))
        .join(all.join(banded, Seq("lang", "source", "w"))
          .select(col("lang"), col("source"), col("w"), col("doc_id").as("oid")),
          Seq("lang", "source", "w"))
        .filter(col("nid") =!= col("oid"))
        .select(least(col("nid"), col("oid")).as("a_id"),
          greatest(col("nid"), col("oid")).as("b_id"))
        .distinct()
      writeBatch(pairs, pairsOut, bid)
    }
    // read-out: the batch query's exact scoring, semi-joined to candidates
    // (batch= partition column dropped BEFORE distinct — a candidate
    // surfacing in two batches is one candidate, not a double-counted
    // join row)
    val all = s.read.parquet(store).drop("batch")
    val cand = s.read.parquet(pairsOut).drop("batch").distinct()
    val blocks = s.read.parquet(docsStore)
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("n_docs"))
    // round 17: final df = summed per-batch dfStore counts — the SAME
    // additive identity the drain's band already relies on (≡ counting
    // the full occurrence store, proven round 13) — so the read-out no
    // longer re-aggregates the whole occurrence store; `all` is then
    // consumed exactly once (inside withDf) and its extra checkpoint
    // materialization pass is gone too.
    val dfAll = s.read.parquet(dfStore)
      .groupBy(col("lang"), col("source"), col("w"))
      .agg(sum(col("cnt")).as("df"))
    val withDf = all
      .join(dfAll.filter(col("df") <= ceil), Seq("lang", "source", "w"))
      .join(broadcast(blocks), Seq("lang", "source"))
      .withColumn("idf_um", expr(
        "CAST(round(ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE))" +
          " * CAST(1000000 AS DOUBLE)) AS BIGINT)"))
      .localCheckpoint()
    val sums = withDf.groupBy(col("doc_id")).agg(sum(col("idf_um")).as("w_total"))
    val shj = withDf.filter(col("df") >= 2)
    cand
      .join(shj.select(col("lang"), col("source"), col("w"),
        col("doc_id").as("a_id"), col("idf_um")), Seq("a_id"))
      .join(shj.select(col("lang"), col("source"), col("w"),
        col("doc_id").as("b_id")), Seq("lang", "source", "w", "b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("n_common"), sum(col("idf_um")).as("inter_w"))
      .join(sums.select(col("doc_id").as("a_id"), col("w_total").as("wa")), "a_id")
      .join(sums.select(col("doc_id").as("b_id"), col("w_total").as("wb")), "b_id")
      .withColumn("uni_w", col("wa") + col("wb") - col("inter_w"))
      .filter(col("uni_w") > 0L && col("inter_w") * 10 >= col("uni_w") * 3)
      .select(col("a_id"), col("b_id"), col("n_common"),
        col("inter_w"), col("uni_w"),
        expr("""CAST(round(CAST(inter_w AS DOUBLE) / CAST(uni_w AS DOUBLE)
                * CAST(1000000 AS DOUBLE)) AS BIGINT)""").as("wj_um"))
      .orderBy("a_id", "b_id")
  }

  /** Incremental-semdedup core behind `streaming_semdedup_keep`, srcDir
    * and scratch tag injected so StreamingSemDedupSpec can feed it
    * hash-INTERLEAVED files (smaller ids arriving in later batches) and
    * assert the result still equals the batch [[graft.vec.VecOps
    * .semDedupKeep]] — the order-independence proof for the pair-coverage
    * argument above. */
  private[graft] def semdedupIncrementalRun(s: SparkSession, dir: String,
      srcDir: String, tag: String): DataFrame = {
    graft.functions.DotF32.register(s)
    val store = s"/dev/shm/graft-semdedup/store_$tag"
    val pairsOut = s"/dev/shm/graft-semdedup/pairs_$tag"
    // hierarchical assignment index (round 12, mirroring the batch twin's
    // two-stage rule — the shared oracle demands identical cells): coarse
    // anchors + fine→coarse map derived ONCE from the shared centroid
    // table, outside the drain; each micro-batch assigns against it
    val idx = graft.vec.VecOps.hierIndexShared(graft.Tables(s, dir).embeddings, dir)
    val embSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    screen(fileStream(s, embSchema, srcDir), s"semdedup_$tag", Seq(store, pairsOut)) {
      (batch0, bid, stores) =>
        // repartition to the drain width BEFORE the assignment maps:
        // one file per trigger means the batch scan yields ~(file size /
        // maxPartitionBytes) splits — 2 at the 1000× decade — and the
        // broadcast-join dot-product stages (hierAssign's coarse cross
        // + fine f2g join) inherit that width, so without this the
        // screen's dominant stages run ~2-wide however many shuffle
        // partitions the drain sets (measured: widening the shuffle
        // alone moved 729 → 792 s @1000×; BASELINE.md round-16)
        val batch = batch0.repartition(drainParts)
        val assigned = graft.vec.VecOps.hierAssign(
          batch.select(col("vec_id"), col("embedding")), idx)
        // the read-out `st` below emits one row per stored vector with
        // no dedup, so the keyed store is what keeps a replay from
        // duplicating output rows. Its one-file write puts a real
        // exchange between the assignment join (and the batch×store
        // dot-product band below) and the writer: coalesce(1) ran them
        // single-threaded (measured 516 → 180 s @1000×, BASELINE.md
        // round-16).
        // round 17 (VERDICT r16 #1): store side = in-session union, not
        // a full parquet rescan; batch side = the read-back, so
        // hierAssign runs once per batch instead of twice
        val (assignedB, all) = stores.append(assigned, store, bid)
        val pairs = assignedB.select(col("cid"), col("vec_id").as("nid"),
            col("embedding").as("ne"))
          .join(all.select(col("cid"), col("vec_id").as("oid"),
            col("embedding").as("oe")), "cid")
          .filter(col("nid") =!= col("oid"))
          .withColumn("sim", expr("dot_f32(ne, oe)"))
          .filter(col("sim") >= 0.45)
          .select(greatest(col("nid"), col("oid")).as("vec_id"),
            least(col("nid"), col("oid")).as("dup_cand"))
        writeBatch(pairs, pairsOut, bid)
    }
    val st = s.read.parquet(store).select(col("vec_id"), col("cid"))
    val d = s.read.parquet(pairsOut)
      .groupBy(col("vec_id")).agg(min(col("dup_cand")).as("dup_of"))
    st.join(d, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"),
        when(col("dup_of").isNull, 1L).otherwise(0L).as("kept"),
        col("dup_of"))
      .orderBy("vec_id")
  }

  /** SEVENTH incremental screen: ONLINE DSIR importance scoring — the
    * corpus streams in (3 micro-batches) and every piece of screen state
    * is ADDITIVE: per batch, the batch's hashed-unigram bucket counts
    * append to a (b, source-split) count store and its per-(doc, bucket)
    * token counts to a doc store (each doc arrives in exactly one batch,
    * so doc rows never merge; bucket counts are plain sums — the
    * streaming_wj additive-df discipline with NOTHING ELSE: no candidate
    * join, no store scan, per-batch cost ∝ batch). Read-out: the add-one
    * log-ratio table derives from the SUMMED final counts and doc
    * weights from the doc store — equal to the batch aggregates under
    * any batching, so the drained output equals the batch SQL verbatim
    * ([[graft.text.TextQueries.dsirOracle]], the shared oracle). */
  private[graft] def dsirIncrementalRun(s: SparkSession, dir: String,
      srcDir: String, tag: String): DataFrame = {
    val bStore = s"/dev/shm/graft-dsir/buckets_$tag"
    val dStore = s"/dev/shm/graft-dsir/docs_$tag"
    screen(fileStream(s, docSchema, srcDir), s"dsir_$tag", Seq(bStore, dStore)) {
      (batch, bid, _) =>
        val tok = batch.select(col("doc_id"), col("source"),
            explode(graft.text.TextOps.tokens(col("text"))).as("w"))
          .withColumn("b", graft.text.TextOps.hash60(col("w")) % 64)
        // these counts are plain additive sums, so the keyed stores are
        // what keep a replayed micro-batch from doubling its bucket/doc
        // counts. The batch= dirname is a partition column the read-out
        // never selects.
        // round 17: the doc store is written FIRST, carrying the doc's
        // source (a doc has exactly one source, so the extra grouping
        // column splits no group and the read-out's (doc_id) agg is
        // unchanged); the bucket counts then derive from the written
        // file's read-back, so the tokenize+explode pass runs once per
        // batch instead of twice. cr = Σ doc counts ≡ the old token
        // count(); ct's src0 sum defaults missing buckets to 0
        // explicitly (sum over an empty when() is NULL where the old
        // count() was 0, and the read-out's lr algebra needs the 0).
        val docs = writeBatch(tok.groupBy(col("doc_id"), col("source"), col("b"))
          .agg(count(lit(1)).as("cnt")), dStore, bid)
        writeBatch(batch.sparkSession.read.parquet(docs)
          .groupBy(col("b"))
          .agg(sum(col("cnt")).as("cr"),
            sum(when(col("source") === "src0", col("cnt")).otherwise(lit(0L))).as("ct")),
          bStore, bid)
    }
    val counts = s.read.parquet(bStore)
      .groupBy(col("b"))
      .agg(sum(col("cr")).as("cr"), sum(col("ct")).as("ct"))
    val totals = counts.agg(sum(col("cr")).as("nr"), sum(col("ct")).as("nt"))
    // split-ln form shared with the batch twin (round 14 — see
    // TextQueries.dsirLrUmExpr: no integer product, no 2⁵³ envelope)
    val lr = counts.crossJoin(broadcast(totals))
      .withColumn("lr_um", expr(graft.text.TextQueries.dsirLrUmExpr))
      .select(col("b"), col("lr_um"))
    s.read.parquet(dStore).join(lr, Seq("b"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_tokens"),
        sum(col("cnt") * col("lr_um")).as("logw_um"))
      .orderBy("doc_id")
  }

  /** SIXTH incremental screen: ONLINE benchmark decontamination — the
    * training corpus streams in (3 micro-batches) while the eval set is a
    * FIXED reference relation derived once OUTSIDE the drain (the
    * semdedup-twin index discipline; an eval set is static by
    * definition). Per batch: the batch's train docs' distinct 5-grams
    * equi-join the eval (doc, gram) index and the hit pairs append to a
    * store. The hit set is a monotone UNION over batches — a pair hit by
    * some batch is hit by the full corpus and vice versa — so the
    * accumulated distinct hits equal the batch semi-join under ANY
    * batching (see [[graft.text.TextQueries.decontaminationOracle]],
    * the shared oracle). Read-out: distinct hits → per-eval-doc counts →
    * the batch query's exact output. Per-batch cost: gram-keyed join of
    * batch grams × eval index (never batch × corpus); the hit store is
    * bounded by the eval pair count — OUTPUT-sized, the only screen with
    * zero growing state. This is the cheapest possible incremental
    * shape: nothing is re-aggregated, ever. */
  private[graft] def decontamIncrementalRun(s: SparkSession, dir: String,
      srcDir: String, tag: String): DataFrame = {
    val hitStore = s"/dev/shm/graft-decon/hits_$tag"
    // round 17: the eval index rides the session Shared registry — an
    // eval set is STATIC by definition (the screen's own design comment),
    // yet each bench rep re-derived the same shingle explode; the
    // relation is (eval doc, gram) pairs, bounded by the src0 shard's
    // gram count (the gopher per-doc-signal precedent: MEMORY_AND_DISK,
    // session-lifetime, first consumer's rep pays the build).
    val evalG = graft.Shared.relation(s, dir, "decontam-evalg")(
      graft.Tables(s, dir).documents
        .filter(col("source") === "src0")
        .select(col("doc_id"),
          explode(graft.text.TextOps.shingles(col("text"), 5)).as("g")))
    screen(fileStream(s, docSchema, srcDir), s"decon_$tag", Seq(hitStore)) {
      (batch, bid, _) =>
        val bg = batch.filter(col("source") =!= "src0")
          .select(explode(
            graft.text.TextOps.shingles(col("text"), 5)).as("g"))
          .distinct()
        writeBatch(evalG.join(bg, Seq("g"), "left_semi"), hitStore, bid)
    }
    val totals = evalG.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
    // batch= partition column dropped BEFORE distinct: a (doc, gram) hit
    // landed by two batches is ONE hit of the monotone union
    val hits = s.read.parquet(hitStore).drop("batch").distinct()
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit"))
    totals.join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        (coalesce(col("n_hit"), lit(0L)) * 10 >= col("n_grams") * 8)
          .as("is_contaminated"))
      .orderBy("doc_id")
  }
}
