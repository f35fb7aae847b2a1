package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.Row

/** Registry queries on zero-row inputs: each runs on copies of its input
  * tables that keep the sf0.001 parquet schema and hold no row, and
  * returns what its DuckDB oracle returns there, in the columns and types
  * it returns on the full tables. */
class EmptyInputSpec extends SparkSpec {

  /** Runs `body` with a fixture directory whose `tables` are zero-row
    * copies of sf0.001's, deleted afterwards. */
  private def withEmpty[T](tables: String*)(body: String => T): T = {
    val dir: Path = Files.createTempDirectory("graft_empty")
    try {
      tables.foreach { t =>
        val src = spark.read.parquet(s"${sf("sf0.001")}/$t.parquet")
        val dst = dir.resolve(s"$t.parquet").toString
        src.limit(0).write.parquet(dst)
        assert(spark.read.parquet(dst).schema == src.schema, s"$t: schema differs from sf0.001's")
      }
      body(dir.toString)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile): Unit
  }

  /** Runs registry query `name` on `dir`, checking its output columns and
    * types against its output on sf0.001, and returns its rows. */
  private def run(name: String, dir: String): Seq[Row] = {
    val q = SparkEntry.queries(name)
    val df = q(spark, dir)
    val full = q(spark, sf("sf0.001")).schema
    assert(df.schema.map(f => f.name -> f.dataType) == full.map(f => f.name -> f.dataType))
    df.collect().toSeq
  }

  test("incremental_candles_store on zero events: no candles") {
    withEmpty("events")(dir => assert(run("incremental_candles_store", dir).isEmpty))
  }

  test("merge_upsert_candles on zero events: no rows") {
    withEmpty("events")(dir => assert(run("merge_upsert_candles", dir).isEmpty))
  }

  test("zipf_slope_corpus on an empty corpus: n = 0, NULL slope and intercept") {
    withEmpty("documents")(dir => assert(run("zipf_slope_corpus", dir) == Seq(Row(0L, null, null))))
  }

  test("ann_persisted_index_topk on zero embeddings: no rows") {
    withEmpty("embeddings")(dir => assert(run("ann_persisted_index_topk", dir).isEmpty))
  }
}
