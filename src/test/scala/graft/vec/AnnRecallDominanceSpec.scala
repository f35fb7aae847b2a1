package graft.vec

import graft.{SparkEntry, SparkSpec}

/** The two per-query recall orderings the ANN family table documents,
  * checked query by query rather than argued: `ann_recall_ivf`
  * (fprobes = 3) probes a superset of `ann_recall_hier`'s cells
  * (fprobes = 2), and `ann_recall_refine` reranks int8's own top-10
  * candidates exactly, so neither may find fewer true top-3 neighbors
  * than its narrower twin for any sampled query. */
class AnnRecallDominanceSpec extends SparkSpec {

  private def hits(name: String): Map[Long, Long] =
    SparkEntry.queries(name)(spark, sf("sf0.01")).collect()
      .map(r => r.getAs[Number]("qid").longValue -> r.getAs[Number]("n_hit").longValue)
      .toMap

  for ((wide, narrow) <- Seq(
      "ann_recall_ivf" -> "ann_recall_hier",
      "ann_recall_refine" -> "ann_recall_int8"))
    test(s"$wide >= $narrow for every sampled query") {
      val w = hits(wide)
      val n = hits(narrow)
      assert(w.nonEmpty)
      assert(w.keySet == n.keySet, "both lenses must grade the same query sample")
      val worse = n.toSeq.sorted.collect { case (q, h) if w(q) < h => (q, w(q), h) }
      assert(worse.isEmpty,
        s"queries where $wide finds fewer hits than $narrow, as (qid, wide, narrow): $worse")
    }
}
