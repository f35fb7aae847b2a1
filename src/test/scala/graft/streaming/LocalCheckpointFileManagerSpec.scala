package graft.streaming

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import graft.SparkSpec
import org.apache.commons.io.FileUtils
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.functions._

/** A local file system registered under a scheme other than `file`. */
class OtherSchemeFileSystem extends RawLocalFileSystem {
  override def getScheme: String = "graftother"
}

/** [[LocalCheckpointFileManager]] keeps the contract of Spark's
  * FileSystem-based manager that it extends: an atomic create is visible
  * only once closed, a cancelled one leaves nothing, a create that may
  * not overwrite fails as the parent's does. It goes beyond the parent in
  * one respect: a create that may overwrite does. A stateful query that
  * runs on it resumes from its checkpoint. */
class LocalCheckpointFileManagerSpec extends SparkSpec {

  private def withDir[T](body: File => T): T = {
    val dir = Files.createTempDirectory("graft_cfm").toFile
    try body(dir) finally FileUtils.deleteQuietly(dir): Unit
  }

  private def local(dir: File) =
    new LocalCheckpointFileManager(new Path(dir.getPath), spark.sessionState.newHadoopConf())

  private def read(f: File) = new String(Files.readAllBytes(f.toPath), UTF_8)

  test("createAtomic is invisible until close and leaves only the final file") {
    withDir { dir =>
      val fm = local(dir)
      val f = new Path(dir.getPath, "sub/0")
      val out = fm.createAtomic(f, overwriteIfPossible = false)
      out.write("v1".getBytes(UTF_8))
      assert(!fm.exists(f))
      out.close()
      assert(fm.exists(f))
      assert(read(new File(dir, "sub/0")) == "v1")
      assert(new File(dir, "sub").list().toSeq == Seq("0"))
    }
  }

  test("cancel leaves neither a temp file nor the final file") {
    withDir { dir =>
      val fm = local(dir)
      val out = fm.createAtomic(new Path(dir.getPath, "0"), overwriteIfPossible = false)
      out.write("v1".getBytes(UTF_8))
      out.cancel()
      assert(dir.list().isEmpty)
    }
  }

  test("overwriteIfPossible = false on an existing file throws as the parent class does") {
    def attempt(fm: CheckpointFileManager, dir: File): Throwable = {
      Files.write(new File(dir, "0").toPath, "old".getBytes(UTF_8))
      val out = fm.createAtomic(new Path(dir.getPath, "0"), overwriteIfPossible = false)
      out.write("new".getBytes(UTF_8))
      val e = intercept[Exception](out.close())
      assert(read(new File(dir, "0")) == "old")
      e
    }
    val parent = withDir(d => attempt(
      new FileSystemBasedCheckpointFileManager(new Path(d.getPath), spark.sessionState.newHadoopConf()), d))
    val ours = withDir(d => attempt(local(d), d))
    assert(ours.getClass == parent.getClass, s"parent threw $parent, this manager $ours")
  }

  test("overwriteIfPossible = true replaces an existing file") {
    withDir { dir =>
      Files.write(new File(dir, "0").toPath, "old".getBytes(UTF_8))
      val out = local(dir).createAtomic(new Path(dir.getPath, "0"), overwriteIfPossible = true)
      out.write("new".getBytes(UTF_8))
      out.close()
      assert(read(new File(dir, "0")) == "new")
    }
  }

  test("a path outside the file: scheme is refused") {
    val conf = spark.sessionState.newHadoopConf()
    conf.set("fs.graftother.impl", classOf[OtherSchemeFileSystem].getName)
    conf.setBoolean("fs.graftother.impl.disable.cache", true)
    val e = intercept[IllegalArgumentException](
      new LocalCheckpointFileManager(new Path("graftother:///tmp/graft_cfm"), conf))
    assert(e.getMessage.contains("file: checkpoints only"))
  }

  test("a stateful query on this manager resumes after its last committed batch") {
    val events = graft.Tables(spark, sf("sf0.001")).events.select(col("event_id"), col("user_id"))
    val schema = events.schema
    val src = Files.createTempDirectory("graft_cfm_src").toFile
    // one file per part; the stream takes one file per micro-batch
    def addPart(i: Int): Unit =
      events.filter(col("event_id") % 4 === i).coalesce(1).write.mode("append").parquet(src.getPath)

    /** Runs the running per-user count over `src` from checkpoint `ckpt`
      * until all input is processed; returns (batchId, user_id, count). */
    def run(ckpt: String): Seq[(Long, Long, Long)] = {
      val seen = ArrayBuffer[(Long, Long, Long)]()
      val q = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src.getPath)
        .groupBy(col("user_id")).count()
        .writeStream.outputMode("update").option("checkpointLocation", ckpt)
        .foreachBatch { (batch: DataFrame, bid: Long) =>
          seen.synchronized {
            seen ++= batch.collect().map(r => (bid, r.getLong(0), r.getLong(1)))
          }: Unit
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      seen.toSeq
    }
    def last(rows: Seq[(Long, Long, Long)]): Map[Long, Long] =
      rows.groupBy(_._2).map { case (k, rs) => k -> rs.maxBy(_._1)._3 }
    def lastCommit(ckpt: String): Long =
      new File(ckpt, "commits").list().filter(_.forall(_.isDigit)).map(_.toLong).max

    try graft.Shared.withConf(spark, "spark.sql.streaming.checkpointFileManagerClass" ->
        classOf[LocalCheckpointFileManager].getName) {
      withCheckpoint("cfm_restart") { ckpt =>
        withCheckpoint("cfm_whole") { whole =>
          addPart(0); addPart(1)
          val first = run(ckpt)
          val committed = lastCommit(ckpt)
          assert(first.map(_._1).distinct.sorted == Seq(0L, 1L) && committed == 1L)
          addPart(2); addPart(3)
          val second = run(ckpt)
          assert(second.map(_._1).min == committed + 1, s"restart ran batches ${second.map(_._1).distinct}")
          val uninterrupted = run(whole)
          assert(uninterrupted.map(_._1).distinct.sorted == Seq(0L, 1L, 2L, 3L))

          val batch = events.groupBy("user_id").count().collect()
            .map(r => r.getLong(0) -> r.getLong(1)).toMap
          assert(last(uninterrupted) == batch)
          assert(last(first ++ second) == last(uninterrupted))
          // every checkpoint file, state included, was created by this
          // manager: no hidden Hadoop checksum file `.<name>.crc` (Spark's
          // own state checksums are `<name>.crc`)
          val files = FileUtils.listFiles(new File(ckpt), null, true).toArray
            .map(_.asInstanceOf[File])
          assert(files.exists(_.getPath.contains("/state/")), files.mkString("\n"))
          assert(!files.exists(f => f.getName.startsWith(".") && f.getName.endsWith(".crc")),
            files.mkString("\n"))
        }
      }
    } finally FileUtils.deleteQuietly(src): Unit
  }
}
