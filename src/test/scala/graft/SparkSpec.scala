package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM per `sbt test` run). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String): String = s"/root/testdata/$dir"

  /** Runs `body` with a fresh checkpoint path for a streaming query the
    * test starts itself, `/dev/shm/graft-ckpt/<prefix>_<8 hex>`, and
    * deletes that directory once `body` returns or throws: the root is
    * RAM-backed tmpfs that outlives the test JVM. */
  def withCheckpoint[T](prefix: String)(body: String => T): T = {
    val dir = new java.io.File(
      s"/dev/shm/graft-ckpt/${prefix}_${java.util.UUID.randomUUID().toString.take(8)}")
    try body(dir.getPath)
    finally org.apache.commons.io.FileUtils.deleteQuietly(dir): Unit
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // metastore-backed tests (bucketing) must not pollute the repo dir
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .config("javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=${java.nio.file.Files.createTempDirectory("graft_ms")}/metastore_db;create=true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
