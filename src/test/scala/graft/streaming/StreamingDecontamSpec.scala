package graft.streaming

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Order-independence proof for the online decontamination screen
  * (`streaming_decontam_overlap`): the hit set {(eval doc, gram) : gram
  * in ANY train doc} is a monotone UNION over micro-batches, so the
  * accumulated distinct hits — and therefore the per-eval-doc counts and
  * contamination verdicts — must not depend on how the training corpus
  * is split into batches or in what order documents arrive. The graded
  * query streams range-partitioned files (ids in order); this spec feeds
  * HASH-partitioned files — ids interleaved across batches — and asserts
  * bit-equality with the batch `decontamination_overlap` query.
  */
class StreamingDecontamSpec extends SparkSpec {

  test("online decontamination equals batch under interleaved-id batches") {
    val dir = sf("sf0.001")
    val docs = Tables(spark, dir).documents
    val src = java.nio.file.Files
      .createTempDirectory("graft_decon_spec").toString
    docs.repartition(3, col("doc_id")).write.mode("overwrite").parquet(src)

    val streamed = StreamQueries
      .decontamIncrementalRun(spark, dir, src, "spec_interleaved")
      .collect().toSeq
    val batch = graft.SparkEntry.queries("decontamination_overlap")(spark, dir)
      .collect().toSeq

    assert(streamed.nonEmpty, "online decontamination returned no rows")
    assert(streamed == batch,
      "online (interleaved batches) and batch decontamination diverge")
  }

  test("the decontam-evalg Shared entry holds the src0 grams, not the corpus's") {
    val dir = sf("sf0.001")
    val docs = Tables(spark, dir).documents
    val src = java.nio.file.Files
      .createTempDirectory("graft_decon_size").toString
    docs.write.mode("overwrite").parquet(src)
    StreamQueries.decontamIncrementalRun(spark, dir, src, "spec_size").count()

    val evalG = graft.Shared.relation(spark, dir, "decontam-evalg")(
      fail("the screen did not register its eval index"))
    def grams(d: org.apache.spark.sql.DataFrame): Long =
      d.select(col("doc_id"),
        explode(graft.text.TextOps.shingles(col("text"), 5)).as("g")).count()
    val src0Grams = grams(docs.filter(col("source") === "src0"))
    val src0Docs = docs.filter(col("source") === "src0").count()
    assert(evalG.count() == src0Grams,
      "eval index must hold one row per (src0 doc, gram)")
    assert(src0Grams < grams(docs), "src0 must be a strict slice of the corpus")
    assert(src0Grams > src0Docs, "the entry is per gram, not per document")
  }
}
