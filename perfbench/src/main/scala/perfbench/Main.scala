package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** One op of a pass: a request, a registry query or a drain. `buildNs`
  * is the time inside the layer's public function, `runNs` the time
  * inside the materializing action. */
final case class Op(index: Int, kind: String, name: String, module: String,
                    buildNs: Long, runNs: Long, ok: Boolean, err: String, rows: Long)

final case class Pass(index: Int, traced: Boolean, wallNs: Long, cpuNs: Long,
                      ops: Seq[Op], layers: Map[String, Double])

/** A workload drives the engine's public functions, one client thread. */
trait Workload {
  /** Untimed set-up: a fresh session, the workload's inputs, and runs of
    * its code paths, so that class loading and JIT compilation stay out
    * of the timed passes. */
  def setup(base: SparkSession): Unit
  /** The number of passes an untraced run measures; even, so that a
    * traced run's passes are symmetric. */
  def passes: Int
  /** Runs pass `k`; `trace` is attached only around the timed region. */
  def pass(base: SparkSession, k: Int, trace: Option[Trace]): Pass
  /** Untimed work after the last pass (inputs for the output checks). */
  def finish(base: SparkSession): Unit = ()
}

/** One benchmark run in one JVM. Sets up, runs a fixed number of passes
  * of a workload, and writes the raw measurements to `<out>/result.json`;
  * `run.py` turns them into metrics and checks the outputs. The pass
  * count does not follow speed, so every run measures the same passes.
  *
  * {{{
  * Main --workload tsdb_serve --data <tables> --plan <plan> --out <out>
  *      --trace 0 --cpus 4 --local <spark scratch>
  * }}}
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val (data, plan, out) = (opt("data"), opt("plan"), opt("out"))
    val traced = opt("trace") == "1"
    val cpus = opt("cpus")
    Files.createDirectories(Paths.get(out))
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", opt("local"))
      .config("spark.shuffle.compress", "false")
      .config("spark.shuffle.spill.compress", "false")
      .config("spark.broadcast.compress", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val contextS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val workload: Workload = opt("workload") match {
      case "tsdb_serve" => new TsdbServe(data, plan, out)
      case "batch_pipeline" => new RegistryPasses(data, plan, out)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    workload.setup(spark)
    // JVM start to the first timed op: context, set-up and warm-up
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val t0 = System.nanoTime()
    // a traced run makes one pass more, untraced and traced in turn
    // (U T U, U T U T U T U), so the tracing overhead is measured within the
    // run and a steady speed-up as the JIT warms favours neither side
    val n = workload.passes + (if (traced) 1 else 0)
    val passes = (0 until n).map { k =>
      val trace = if (traced && k % 2 == 1) Some(new Trace(spark.sparkContext)) else None
      workload.pass(spark, k, trace)
    }
    val measuredS = (System.nanoTime() - t0) / 1e9
    workload.finish(spark)
    val json = Json.obj(
      "workload" -> Json.str(opt("workload")),
      "context_s" -> Json.num(contextS),
      "setup_s" -> Json.num(setupS),
      "measured_s" -> Json.num(measuredS),
      "peak_rss_kb" -> Json.num(Proc.status("VmHWM")),
      "passes" -> Json.arr(passes.map(passJson)))
    Files.writeString(Paths.get(out, "result.json"), json)
    spark.stop()
  }

  private def passJson(p: Pass): String = Json.obj(
    "index" -> Json.num(p.index),
    "traced" -> Json.bool(p.traced),
    "wall_s" -> Json.num(p.wallNs / 1e9),
    "cpu_s" -> Json.num(p.cpuNs / 1e9),
    "layers" -> Json.obj(p.layers.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }: _*),
    "ops" -> Json.arr(p.ops.map { o =>
      Json.obj("i" -> Json.num(o.index), "kind" -> Json.str(o.kind), "name" -> Json.str(o.name),
        "module" -> Json.str(o.module), "build_s" -> Json.num(o.buildNs / 1e9),
        "run_s" -> Json.num(o.runNs / 1e9), "ok" -> Json.bool(o.ok),
        "err" -> Json.str(o.err), "rows" -> Json.num(o.rows))
    }))
}

/** Process-level readings from /proc and the JVM's management beans. */
object Proc {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuNs: Long = os.getProcessCpuTime

  /** A `kB` field of /proc/self/status, e.g. VmHWM (peak resident set). */
  def status(field: String): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith(field + ":"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)

  /** Bytes under a directory tree (0 when it does not exist). */
  def treeBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }

  def fileCount(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet")).count()
      finally s.close()
    }
  }

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally s.close()
    }
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def num(v: Long): String = v.toString
  def bool(b: Boolean): String = b.toString
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
