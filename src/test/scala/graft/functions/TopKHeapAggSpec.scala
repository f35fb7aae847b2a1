package graft.functions

import graft.SparkSpec
import graft.vec.VecOps
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** `topk_heap` against the window `row_number() <= k` formulation, the
  * reference every DuckDB oracle of a heap site uses: same (score DESC,
  * id ASC) total order, so the ranked rows must be equal. */
class TopKHeapAggSpec extends SparkSpec {
  import spark.implicits._

  /** (g, rank, score, id) through the heap, rank 1-based. */
  private def heap(in: DataFrame, k: Int): Seq[Row] =
    in.groupBy(col("g"))
      .agg(VecOps.heapCol(spark, col("score"), col("id"), k).as("top"))
      .select(col("g"), posexplode(col("top")).as(Seq("i", "t")))
      .select(col("g"), (col("i") + 1).cast("int").as("rank"),
        col("t.score"), col("t.id"))
      .orderBy("g", "rank").collect().toSeq

  /** (g, rank, score, id) through the rank window. */
  private def window(in: DataFrame, k: Int): Seq[Row] = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("score").desc, col("id"))
    in.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("g"), col("rank").cast("int"), col("score"), col("id"))
      .orderBy("g", "rank").collect().toSeq
  }

  // adversarial tie-heavy relation: 10^4 rows, 97 groups, scores drawn
  // from 7 values so (score DESC, id ASC) tiebreaks decide most slots
  private def ties = spark.range(10000)
    .select((col("id") % 97).as("g"), col("id"),
      ((col("id") * 31) % 7).cast("double").as("score"))

  test("topk_heap ≡ window row_number on tie-heavy data, several k") {
    for (k <- Seq(1, 3, 8, 16); parts <- Seq(1, 7)) {
      val in = ties.repartition(parts, col("id")) // shake merge order
      assert(heap(in, k) == window(in, k),
        s"k=$k parts=$parts: heap diverged from the window")
    }
  }

  test("heap top-k equals the window formulation regardless of partitioning") {
    val rnd = new scala.util.Random(11)
    // heavy score ties to exercise the (score DESC, id ASC) tiebreak
    val rows = Seq.tabulate(5000)(i => (i % 7, rnd.nextInt(40).toDouble, i.toLong))
      .toDF("g", "score", "id")
    val expected = window(rows, 5)
    assert(heap(rows.repartition(3, col("id")), 5) == expected)
    // different partitioning, identical result
    assert(heap(rows.repartition(37, col("id")), 5) == expected)
  }

  test("descending-feed worst case and singleton groups match") {
    // scores strictly descending in arrival order within each group —
    // every accepted row lands at the tail (the O(1) reject path never
    // fires until the buffer fills)
    val in = spark.range(2000)
      .select((col("id") % 5).as("g"), col("id"),
        (lit(5000) - col("id")).cast("double").as("score"))
    assert(heap(in, 4) == window(in, 4))
    val single = spark.range(50)
      .select(col("id").as("g"), col("id"), col("id").cast("double").as("score"))
    assert(heap(single, 3) == window(single, 3))
  }

  test("groups smaller than k return all rows; empty input returns nothing") {
    val small = Seq((1, 5.0, 1L), (1, 7.0, 2L)).toDF("g", "score", "id")
    assert(heap(small, 10) == window(small, 10))
    assert(heap(small, 10).size == 2)
    val empty = Seq.empty[(Int, Double, Long)].toDF("g", "score", "id")
    assert(heap(empty, 10).isEmpty)
  }

  test("null score or id rows are skipped, not inserted as zero") {
    TopKHeapAgg.register(spark)
    val in = Seq[(Long, Option[Double], Option[Long])](
      (1L, Some(5.0), Some(10L)), (1L, None, Some(11L)),
      (1L, Some(9.0), None), (1L, Some(2.0), Some(12L)))
      .toDF("qid", "score", "nid")
    val out = in.groupBy(col("qid"))
      .agg(expr("topk_heap(score, nid, 3)").as("top"))
      .select(explode(col("top")).as("t"))
      .select(col("t.score"), col("t.id")).orderBy(desc("score"))
      .collect().map(r => (r.getDouble(0), r.getLong(1))).toSeq
    assert(out == Seq((5.0, 10L), (2.0, 12L)))
  }

  test("type contract refuses un-cast inputs loudly") {
    TopKHeapAgg.register(spark)
    val in = Seq((1, 2, 3)).toDF("qid", "nid", "score")
    val e = intercept[Exception] {
      in.groupBy(col("qid")).agg(expr("topk_heap(score, nid, 3)")).collect()
    }
    assert(e.getMessage.contains("topk_heap") ||
      e.getMessage.contains("DATATYPE_MISMATCH"))
  }
}
