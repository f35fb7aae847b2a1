package graft.ts

import java.io.File
import java.nio.file.{Files, Paths}

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class IncrementalSpec extends SparkSpec {

  private def dataFiles(store: String): Map[String, Long] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new File(store))
      .filter(f => f.getName.endsWith(".parquet"))
      .map(f => f.getAbsolutePath -> f.lastModified())
      .toMap
  }

  test("two-step incremental update equals full rebuild") {
    val events = graft.Tables(spark, sf("sf0.001")).events
    val cut = "2024-01-15 00:00:00"

    // build from the first half, then update with the full stream
    val store = Files.createTempDirectory("graft_store").toString + "/candles"
    Incremental.update(spark, events.filter(col("ts") < lit(cut).cast("timestamp")), store)
    val partial = spark.read.parquet(store).count()
    Incremental.update(spark, events, store)

    val got = spark.read.parquet(store)
      .orderBy("series", "bucket").collect()

    val full = Files.createTempDirectory("graft_full").toString + "/candles"
    Incremental.rebuild(events, full)
    val exp = spark.read.parquet(full)
      .orderBy("series", "bucket").collect()

    assert(partial > 0 && got.length > partial)
    assert(got.length == exp.length)
    got.zip(exp).foreach { case (g, e) => assert(g == e) }
  }

  test("update rewrites only tail day-partitions, never history files") {
    val events = graft.Tables(spark, sf("sf0.001")).events
    val cut = "2024-01-15 00:00:00"

    val store = Files.createTempDirectory("graft_store2").toString + "/candles"
    Incremental.update(spark, events.filter(col("ts") < lit(cut).cast("timestamp")), store)

    // history = every day-partition strictly before the high-water day
    val markDay = spark.read.parquet(store)
      .agg(max(to_date(col("bucket")))).head().getDate(0).toString
    val before = dataFiles(store).filter { case (p, _) => !p.contains(s"pdate=$markDay") }
    assert(before.nonEmpty, "fixture should span multiple days")

    Incremental.update(spark, events, store)

    val after = dataFiles(store)
    // every pre-existing history file still present, byte-for-byte untouched
    before.foreach { case (path, mtime) =>
      assert(after.contains(path), s"history file rewritten or removed: $path")
      assert(after(path) == mtime, s"history file modified: $path")
    }
  }

  test("update on an existing-but-empty store rebuilds instead of wiping") {
    val events = graft.Tables(spark, sf("sf0.001")).events
    val store = Files.createTempDirectory("graft_store3").toString + "/candles"

    // a store with a readable schema but zero rows → null high-water mark
    val schema = StructType(Seq(
      StructField("bucket", TimestampType), StructField("series", StringType),
      StructField("open", DoubleType), StructField("high", DoubleType),
      StructField("low", DoubleType), StructField("close", DoubleType),
      StructField("volume", DoubleType), StructField("trades", LongType)))
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      .write.parquet(store)

    Incremental.update(spark, events, store)

    val full = Files.createTempDirectory("graft_full3").toString + "/candles"
    Incremental.rebuild(events, full)
    assert(spark.read.parquet(store).count() == spark.read.parquet(full).count())
    assert(spark.read.parquet(store).count() > 0)
  }

  private def rows(store: String) =
    spark.read.parquet(store).orderBy("series", "bucket").collect().toSeq

  private def rebuilt(events: org.apache.spark.sql.DataFrame) = {
    val full = Files.createTempDirectory("graft_full").toString + "/candles"
    Incremental.rebuild(events, full)
    rows(full)
  }

  /** A store built from the events before the cut. */
  private def firstHalf(tag: String) = {
    val events = graft.Tables(spark, sf("sf0.001")).events
    val store = Files.createTempDirectory(tag).toString + "/candles"
    Incremental.update(spark, events.filter(col("ts") < lit("2024-01-15 00:00:00").cast("timestamp")),
      store)
    (events, store)
  }

  private def scannedDay(store: String) =
    spark.read.parquet(store).agg(max(to_date(col("bucket")))).head().getDate(0).toLocalDate

  test("the listed high-water day equals to_date(max(bucket)) after each update") {
    val (events, store) = firstHalf("graft_listed")
    assert(Incremental.listedDay(spark, store).contains(scannedDay(store)))
    Incremental.update(spark, events, store)
    assert(Incremental.listedDay(spark, store).contains(scannedDay(store)))
  }

  test("update never reads history: a garbage file in an old day stays put") {
    val (events, store) = firstHalf("graft_garbage")
    val day = Incremental.listedDay(spark, store).get
    val garbage = Paths.get(store, s"pdate=${day.minusDays(3)}", "part-99999-garbage.snappy.parquet")
    Files.writeString(garbage, "not a parquet file")
    val mtime = Files.getLastModifiedTime(garbage)

    Incremental.update(spark, events, store)

    assert(Files.readString(garbage) == "not a parquet file")
    assert(Files.getLastModifiedTime(garbage) == mtime)
    Files.delete(garbage)
    assert(rows(store) == rebuilt(events))
  }

  test("staging dirs, _SUCCESS and the default partition never set the listed day") {
    val (_, store) = firstHalf("graft_noise")
    val day = Incremental.listedDay(spark, store)
    assert(Files.exists(Paths.get(store, "_SUCCESS")))
    val file = Files.list(Paths.get(store, s"pdate=${day.get}")).filter(p =>
      p.getFileName.toString.endsWith(".parquet")).findFirst().get
    for (dir <- Seq(".spark-staging-x/pdate=2999-12-31", "_temporary/0/pdate=2999-12-31",
                    "pdate=__HIVE_DEFAULT_PARTITION__")) {
      Files.createDirectories(Paths.get(store, dir))
      Files.copy(file, Paths.get(store, dir, file.getFileName.toString))
    }
    assert(Incremental.listedDay(spark, store) == day)
  }

  test("a newest day without a data file falls back to reading the store") {
    val (events, store) = firstHalf("graft_emptyday")
    val next = Paths.get(store, s"pdate=${Incremental.listedDay(spark, store).get.plusDays(1)}")
    Files.createDirectories(next)
    Files.writeString(next.resolve("_SUCCESS"), "")
    Files.writeString(next.resolve(".part-0.crc"), "")
    assert(Incremental.listedDay(spark, store).isEmpty)

    Incremental.update(spark, events, store)
    assert(rows(store) == rebuilt(events))
  }

  test("a store with no day dir and an unreadable file throws instead of rebuilding") {
    val events = graft.Tables(spark, sf("sf0.001")).events
    val store = Files.createTempDirectory("graft_corrupt").toString + "/candles"
    val bad = Paths.get(store, "part-00000.snappy.parquet")
    Files.createDirectories(bad.getParent)
    Files.writeString(bad, "not a parquet file")

    assert(Incremental.listedDay(spark, store).isEmpty)
    intercept[Exception](Incremental.update(spark, events, store))
    assert(Files.list(Paths.get(store)).toArray.toSeq == Seq(bad))
    assert(Files.readString(bad) == "not a parquet file")
  }

  test("an unknown candle unit fails before any Spark job") {
    val (events, store) = firstHalf("graft_unit")
    val fresh = Files.createTempDirectory("graft_unit_new").toString + "/candles"
    val before = rows(store)
    val group = "incremental-unknown-unit"
    spark.sparkContext.setJobGroup(group, group)
    try {
      for (run <- Seq[() => Unit](
             () => Incremental.rebuild(events, fresh, "hours"),
             () => Incremental.update(spark, events, fresh, "hours"),
             () => Incremental.update(spark, events, store, "hours"))) {
        val e = intercept[IllegalArgumentException](run())
        assert(e.getMessage.contains("hours"))
      }
      assert(spark.sparkContext.statusTracker.getJobIdsForGroup(group).isEmpty)
    } finally spark.sparkContext.clearJobGroup()
    assert(!Files.exists(Paths.get(fresh)))
    assert(rows(store) == before)
  }
}
