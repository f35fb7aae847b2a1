package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Focused contract test for the round-17 in-session batch accumulator
  * (the incremental screens' replacement for the per-trigger full-store
  * parquet rescan): the union-so-far must equal the store's contents
  * (a) across ordinary appends, (b) across a REPLAYED batchId (the
  * at-least-once foreachBatch case — the replay must REPLACE its
  * earlier part, not add a second copy), and (c) across the FoldAt
  * compaction that bounds plan width at high trigger counts. The
  * end-to-end screens are covered by the Streaming*Spec twins; this
  * spec pins the accumulator's own semantics so a future edit cannot
  * silently break replay or fold. */
class BatchAccSpec extends SparkSpec {

  private def writeBatch(dir: String, bid: Long, values: Seq[Long]): String = {
    val path = s"$dir/batch=$bid"
    import spark.implicits._
    values.toDF("v").repartition(1).write.mode("overwrite").parquet(path)
    path
  }

  test("union-so-far tracks appends, replay replaces, fold preserves content") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_batchacc_spec").toString
    val acc = new StreamQueries.BatchAcc

    // (a) ordinary appends: union == everything written so far
    val (p0, all0) = {
      val path = writeBatch(dir, 0L, Seq(1L, 2L))
      acc.add(spark, 0L, path)
    }
    assert(p0.count() == 2 && all0.count() == 2)
    val (_, all1) = acc.add(spark, 1L, writeBatch(dir, 1L, Seq(3L)))
    assert(all1.count() == 3)
    assert(all1.agg(sum(col("v"))).head.getLong(0) == 6L)

    // (b) replay of bid 1 with different content REPLACES, never adds
    val (_, all1r) = acc.add(spark, 1L, writeBatch(dir, 1L, Seq(30L, 31L)))
    assert(all1r.count() == 4, "replayed part must replace its earlier copy")
    assert(all1r.agg(sum(col("v"))).head.getLong(0) == 1 + 2 + 30 + 31)

    // (c) push past FoldAt: content must survive the compaction
    var expected = Set(1L, 2L, 30L, 31L)
    for (bid <- 2L to (StreamQueries.BatchAcc.FoldAt + 3L)) {
      val v = 100L + bid
      val (_, all) = acc.add(spark, bid, writeBatch(dir, bid, Seq(v)))
      expected += v
      assert(all.count() == expected.size, s"count drift at bid $bid")
    }
    val (_, allEnd) = acc.add(spark, 999L, writeBatch(dir, 999L, Seq(7L)))
    expected += 7L
    assert(allEnd.select(col("v")).collect().map(_.getLong(0)).toSet == expected,
      "fold must preserve the exact accumulated content")
    acc.close()
  }

  test("a replay of a batchId already folded throws instead of duplicating it") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_batchacc_fold_spec").toString
    val acc = new StreamQueries.BatchAcc
    try {
      for (bid <- 0L to StreamQueries.BatchAcc.FoldAt.toLong)
        acc.add(spark, bid, writeBatch(dir, bid, Seq(bid)))
      // bid 0 now lives in the folded relation: re-adding it must not
      // append a second copy next to the folded one
      val e = intercept[IllegalStateException](
        acc.add(spark, 0L, writeBatch(dir, 0L, Seq(0L))))
      assert(e.getMessage.contains("batch 0"))
      // the current (unfolded) batch still replays by replacement
      val last = StreamQueries.BatchAcc.FoldAt.toLong
      val (_, all) = acc.add(spark, last, writeBatch(dir, last, Seq(last)))
      assert(all.count() == StreamQueries.BatchAcc.FoldAt + 1)
    } finally acc.close()
  }
}
