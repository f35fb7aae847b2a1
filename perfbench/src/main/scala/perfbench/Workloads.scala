package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, expr}

import graft.Tables
import graft.ts.{Incremental, TimeSeries}

object Session {
  /** A cold session: fresh session state (so every session-keyed memo of
    * the engine misses) and no cached relation left in the shared cache. */
  def fresh(base: SparkSession): SparkSession = {
    val s = base.newSession()
    s.catalog.clearCache()
    SparkSession.setActiveSession(s)
    s
  }

  def errText(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage)).replaceAll("\\s+", " ").take(300)

  /** Runs a pass body between CPU and wall readings, with the trace
    * attached only around it; returns (wallNs, cpuNs, layers). */
  def timedPass(s: SparkSession, trace: Option[Trace])(body: => Unit)
      : (Long, Long, Map[String, Double]) = {
    trace.foreach(_.attach(s))
    val cpu0 = Proc.cpuNs
    val t0 = System.nanoTime()
    body
    val wall = System.nanoTime() - t0
    val cpu = Proc.cpuNs - cpu0
    val layers = trace.map { t =>
      t.flush()
      t.detach(s)
      t.snapshot()
    }.getOrElse(Map.empty)
    (wall, cpu, layers)
  }
}

/** `tsdb_serve`: the reference warehouse's own use. A closed loop with one
  * client runs the seeded request list: reads of event ranges or of
  * day-partitions of the candle store, each collected to the driver, and
  * writes that ingest a trade batch and run `Incremental.update`. One
  * long-lived session serves every request. */
final class TsdbServe(data: String, plan: String, out: String) extends Workload {
  private val requests: IndexedSeq[Array[String]] =
    Files.readAllLines(Paths.get(plan, "requests.tsv")).asScala.toIndexedSeq.map(_.split("\t"))
  // a pass is one round: the requests between two blank lines
  private val rounds: Iterator[Seq[Int]] = {
    val bounds = (-1 +: requests.indices.filter(i => requests(i).sameElements(Array(""))) :+
      requests.length).sliding(2).map { case Seq(a, b) => (a + 1) until b }
    bounds.filter(_.nonEmpty).map(_.toSeq)
  }
  private val store = s"$out/store"
  private val ingest = s"$out/ingest"
  private var session: SparkSession = _
  private val reads = new java.io.PrintWriter(Files.newBufferedWriter(Paths.get(out, "reads.jsonl")))

  private def events(s: SparkSession): DataFrame = {
    val base = Tables(s, data).events
    if (Option(new java.io.File(ingest).list()).exists(_.nonEmpty))
      base.unionByName(s.read.parquet(ingest))
    else base
  }

  /** A fresh session over a store rebuilt from the fixture events, then
    * two rounds of one request of each read kind and two updates that
    * re-aggregate the last stored day without changing it. */
  def setup(base: SparkSession): Unit = {
    val s = Session.fresh(base)
    Proc.deleteTree(store)
    Proc.deleteTree(ingest)
    Files.createDirectories(Paths.get(ingest))
    Incremental.rebuild(Tables(s, data).events, store)
    session = s
    for (_ <- 1 to 2) {
      Seq(
        "read\tevents\t2024-01-10 00:00:00\t2024-01-11 00:00:00\tcandles\t3600",
        "read\tevents\t2024-01-10 00:00:00\t2024-01-11 00:00:00\tcandlesFixed\t900",
        "read\tevents\t2024-01-10 00:00:00\t2024-01-13 00:00:00\tresample\t14400",
        "read\tstore\t2024-01-20\t2024-01-21\traw\t3600",
        "read\tstore\t2024-01-20\t2024-01-22\tresample\t14400",
        "read\tstore\t2024-01-20\t2024-01-21\tgapFill\t3600"
      ).foreach(r => query(s, r.split("\t")).collect())
      Incremental.update(s, events(s), store)
      Incremental.update(s, events(s), store)
    }
  }

  /** The DataFrame a read request asks for, with its output columns. */
  private def query(s: SparkSession, r: Array[String]): DataFrame = {
    val Array(_, src, from, until, op, w) = r
    val width = w.toLong
    val candles: DataFrame = src match {
      case "events" =>
        val ev = Tables(s, data).eventsRange(from, until)
        op match {
          case "candles" =>
            TimeSeries.candles(ev, Map(60L -> "minute", 3600L -> "hour", 86400L -> "day")(width))
          case "candlesFixed" | "gapFill" => TimeSeries.candlesFixed(ev, width)
          case "resample" => TimeSeries.candles(ev, "hour")
        }
      case "store" =>
        s.read.parquet(store)
          .filter(col("pdate").between(expr(s"DATE '$from'"), expr(s"DATE '$until'")))
          .drop("pdate")
    }
    val cols = Seq("unix_micros(bucket) AS bucket_us", "series", "open", "high", "low",
      "close", "volume", "trades")
    op match {
      case "resample" => TimeSeries.resample(candles, width).selectExpr(cols: _*)
      case "gapFill" =>
        TimeSeries.gapFill(candles, width).selectExpr(cols ++ Seq("close_filled", "was_gap"): _*)
      case _ => candles.selectExpr(cols: _*)
    }
  }

  private def rowJson(r: Row): String =
    Json.arr((0 until r.length).map { i =>
      r.get(i) match {
        case null => "null"
        case v: String => Json.str(v)
        case v: java.lang.Boolean => Json.bool(v)
        case v: java.lang.Long => Json.num(v.longValue)
        case v: java.lang.Double => Json.num(v.doubleValue)
        case v => Json.str(v.toString)
      }
    })

  private def request(s: SparkSession, i: Int): (Op, Array[Row]) = {
    val r = requests(i)
    val t0 = System.nanoTime()
    try r(0) match {
      case "read" =>
        val df = query(s, r)
        val t1 = System.nanoTime()
        val rows = df.collect()
        (Op(i, "read", s"${r(1)}.${r(4)}", "ts", t1 - t0, System.nanoTime() - t1, ok = true, "",
          rows.length.toLong), rows)
      case "write" =>
        val name = f"batch_${r(1).toInt}%05d.parquet"
        Files.copy(Paths.get(plan, "trades", name), Paths.get(ingest, name),
          StandardCopyOption.REPLACE_EXISTING)
        val ev = events(s)
        val t1 = System.nanoTime()
        Incremental.update(s, ev, store)
        (Op(i, "write", "ingest.update", "ts", t1 - t0, System.nanoTime() - t1, ok = true, "", 0L),
          Array.empty[Row])
    } catch {
      case NonFatal(e) =>
        (Op(i, r(0), r(0), "ts", System.nanoTime() - t0, 0L, ok = false, Session.errText(e), 0L),
          Array.empty[Row])
    }
  }

  /** Six rounds: 60 reads and 12 writes. */
  val passes = 6

  def pass(base: SparkSession, k: Int, trace: Option[Trace]): Pass = {
    val s = session
    val idx = if (rounds.hasNext) rounds.next() else Seq.empty
    val done = scala.collection.mutable.ArrayBuffer[(Op, Array[Row])]()
    val (wall, cpu, layers) = Session.timedPass(s, trace) {
      idx.foreach(i => done += request(s, i))
    }
    done.foreach { case (op, rows) =>
      if (op.kind == "read" && op.ok)
        reads.println(Json.obj("i" -> Json.num(op.index), "rows" -> Json.arr(rows.toSeq.map(rowJson))))
    }
    val extra = if (trace.isEmpty) Map.empty[String, Double]
      else Map("store.files" -> Proc.fileCount(store).toDouble)
    Pass(k, trace.nonEmpty, wall, cpu, done.map(_._1).toSeq, layers ++ extra)
  }

  /** The reference the final store is checked against. */
  override def finish(base: SparkSession): Unit = {
    reads.close()
    Incremental.rebuild(events(session), s"$out/rebuild")
  }
}

/** `batch_pipeline`: a fixed list of registry queries
  * (`<name>\t<read|write>` per line, in seeded order). Each pass runs in
  * a cold session. A `write` op materializes its full result as parquet
  * for the check; a `read` op materializes it through the `noop` sink and
  * the same DataFrame is written for the check after the timed region. */
final class RegistryPasses(data: String, plan: String, out: String) extends Workload {
  private val entries: Seq[(String, String)] =
    Files.readAllLines(Paths.get(plan, "queries.txt")).asScala.toSeq
      .filter(_.nonEmpty).map(_.split("\t")).map(a => a(0) -> a(1))
  private val fns = graft.SparkEntry.queries
  private val modules: Map[String, String] = Seq(
    "ts" -> graft.ts.TsQueries.all, "rel" -> graft.rel.RelQueries.all,
    "text" -> graft.text.TextQueries.all, "vec" -> graft.vec.VecQueries.all,
    "mm" -> graft.mm.MmQueries.all, "streaming" -> graft.streaming.StreamQueries.all
  ).flatMap { case (m, regs) => regs.map(_.name -> m) }.toMap
  private val ckptRoot = "/dev/shm/graft-ckpt"

  {
    val oracle = graft.SparkEntry.oracleSql
    val names = entries.map(_._1)
    Files.writeString(Paths.get(out, "oracle_sql.json"), Json.obj(
      names.filter(oracle.contains).map(n => n -> Json.str(oracle(n))): _*))
  }

  /** One whole pass, discarded: the first pass in a JVM also pays JIT
    * and code-generation warm-up, which a long-lived pipeline host pays
    * once, not per pass. */
  def setup(base: SparkSession): Unit = {
    pass(base, -1, None)
    Proc.deleteTree(s"$out/pass_-1")
  }

  /** Two passes: a run of three, beside `tsdb_serve`, did not fit the
    * time a full evaluation of the benchmark allows. */
  val passes = 2

  def pass(base: SparkSession, k: Int, trace: Option[Trace]): Pass = {
    val s = Session.fresh(base)
    val sc = s.sparkContext
    val dir = s"$out/pass_$k"
    val ckpt0 = Proc.treeBytes(ckptRoot)
    val done = scala.collection.mutable.ArrayBuffer[(Op, Option[DataFrame])]()
    val (wall, cpu, layers) = Session.timedPass(s, trace) {
      // opening the session (its lazily built state) is part of the pass,
      // but of no op, so op latencies do not depend on the seeded order
      s.sql("SELECT 1").collect()
      entries.zipWithIndex.foreach { case ((name, kind), i) =>
        val module = modules.getOrElse(name, "?")
        val t0 = System.nanoTime()
        done += (try {
          val df = fns(name)(s, data)
          val t1 = System.nanoTime()
          if (kind == "write") df.write.mode("overwrite").parquet(s"$dir/$name")
          else df.write.format("noop").mode("overwrite").save()
          (Op(i, kind, name, module, t1 - t0, System.nanoTime() - t1, ok = true, "", -1L), Some(df))
        } catch {
          case NonFatal(e) =>
            (Op(i, kind, name, module, System.nanoTime() - t0, 0L, ok = false,
              Session.errText(e), -1L), None)
        })
      }
    }
    // untimed: the full result of every noop-materialized op of a measured
    // pass, for the check
    val ops = done.map {
      case (op, Some(df)) if op.kind == "read" && k >= 0 =>
        try { df.write.mode("overwrite").parquet(s"$dir/${op.name}"); op }
        catch { case NonFatal(e) => op.copy(ok = false, err = "check write: " + Session.errText(e)) }
      case (op, _) => op
    }.toSeq
    Files.createDirectories(Paths.get(dir))
    Files.copy(Paths.get(out, "oracle_sql.json"), Paths.get(dir, "oracle_sql.json"),
      StandardCopyOption.REPLACE_EXISTING)
    val persisted = sc.getPersistentRDDs.size
    val cachedMb = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
    s.catalog.clearCache()
    val leftover = sc.getPersistentRDDs.size
    // keep passes independent even if something outlives clearCache
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val memo = if (trace.isEmpty) Map.empty[String, Double] else Map(
      "memo.persisted_rdds" -> persisted.toDouble, "memo.cached_mb" -> cachedMb,
      "memo.leftover_rdds" -> leftover.toDouble,
      "stream.ckpt_left_mb" -> (Proc.treeBytes(ckptRoot) - ckpt0) / 1e6)
    Pass(k, trace.nonEmpty, wall, cpu, ops, layers ++ memo)
  }
}
