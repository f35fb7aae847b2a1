package graft.streaming

import graft.{SparkSpec, Tables}
import graft.vec.VecOps
import org.apache.spark.sql.functions._

/** Order-independence proof for the incremental semdedup pipeline
  * (`streaming_semdedup_keep`): the dup rule "dropped iff ANY
  * same-cluster smaller-id neighbor >= tau" examines each pair exactly
  * when its LATER-arriving member lands, so the result must not depend
  * on how the corpus is split into micro-batches or in what order ids
  * arrive. The graded query streams range-partitioned files (ids in
  * order); this spec feeds the same core HASH-partitioned files — ids
  * interleaved, so later batches carry smaller ids than earlier ones —
  * and asserts bit-equality with the batch [[VecOps.semDedupKeep]].
  */
class StreamingSemDedupSpec extends SparkSpec {

  test("incremental semdedup equals batch under interleaved-id batches") {
    val dir = sf("sf0.001")
    val emb = Tables(spark, dir).embeddings
    val src = java.nio.file.Files
      .createTempDirectory("graft_semdedup_spec").toString
    // hash-partition on vec_id: each of the 3 files holds an id-
    // interleaved slice, so every batch after the first contains ids
    // SMALLER than ids already processed
    emb.repartition(3, col("vec_id")).write.mode("overwrite").parquet(src)

    val streamed = StreamQueries
      .semdedupIncrementalRun(spark, dir, src, "spec_interleaved")
      .collect().toSeq
    val batch = VecOps
      .semDedupKeep(emb, VecOps.hierIndexShared(emb, dir), tau = 0.45)
      .orderBy("vec_id")
      .collect().toSeq

    assert(streamed.nonEmpty, "incremental semdedup returned no rows")
    assert(streamed == batch,
      "incremental (interleaved batches) and batch semdedup diverge")
  }
}
