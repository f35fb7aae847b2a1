package graft.vec

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper, ShuffleQueryStageExec}

/** The LSH pair-scoring stage fans out from the embeddings fixture, which
  * is one parquet split. Its query side is shuffled by qid so the pairs
  * are scored on every core. AQE may coalesce a small shuffle whose
  * partition count it chooses into one partition (the rank window's
  * exchange after an unspread LSH join read 1), never one whose count is
  * pinned. This spec reads AQE's final plan after a run and requires
  * every exchange on qid to still read `spark.sql.shuffle.partitions`
  * partitions. */
class PairStageWidthSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def width: Int = spark.conf.get("spark.sql.shuffle.partitions").toInt

  /** Partitions read from each shuffle hash-partitioned on qid, in the
    * final plan of an adaptive plan that has run. */
  private def qidReads(plan: SparkPlan): Seq[Int] = {
    assert(plan.isInstanceOf[AdaptiveSparkPlanExec], s"not an adaptive plan:\n$plan")
    val reads = collect(plan) { case r: AQEShuffleReadExec => r }
    collect(plan) {
      case s: ShuffleQueryStageExec if (s.shuffle.outputPartitioning match {
            case h: HashPartitioning =>
              h.expressions.exists { case a: Attribute => a.name == "qid"; case _ => false }
            case _ => false
          }) =>
        reads.find(_.child eq s).fold(s.shuffle.numPartitions)(_.partitionSpecs.size)
    }
  }

  test("annLshTopK: the qid exchange keeps the session's shuffle width under AQE") {
    assert(width > 1)
    val df = VecOps.annLshTopK(Tables(spark, sf("sf0.01")).embeddings, planes = 4, k = 3)
    assert(df.collect().nonEmpty)
    val got = qidReads(df.queryExecution.executedPlan)
    assert(got.nonEmpty && got.forall(_ == width),
      s"qid exchange partitions read: $got\n${df.queryExecution.executedPlan}")
  }
}
