package graft.vec

import graft.{Shared, SparkEntry, SparkSpec, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The hier index and its routing tables are session artifacts in
  * [[graft.Shared.memo]]: one index per (session, dir), one routing table
  * per (session, dir, probes, fprobes), read by every graded consumer at
  * that dial. A routing table is a localCheckpointed relation, so a
  * consumer reads it exactly when the table's checkpoint RDD appears in
  * the consumer's analyzed plan. */
class HierMemoSpec extends SparkSpec {
  private def rddIds(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd.id }.toSet

  /** The session's top-3 relation of the ANN family row `suffix`. */
  private def top3(suffix: String, dir: String): DataFrame =
    VecQueries.annFamilies.find(_.suffix == suffix).get.top3(spark, dir)

  test("one routing table per (probes, fprobes), shared by every consumer at that dial") {
    val dir = sf("sf0.001")
    val emb = Tables(spark, dir).embeddings
    val r22 = rddIds(VecOps.hierRoutingShared(emb, dir, probes = 2, fprobes = 2))
    val r23 = rddIds(VecOps.hierRoutingShared(emb, dir, probes = 2, fprobes = 3))
    val r32 = rddIds(VecOps.hierRoutingShared(emb, dir, probes = 3, fprobes = 2))
    assert(Seq(r22, r23, r32).forall(_.size == 1))
    assert(Set(r22, r23, r32).size == 3, "two dials resolved to one routing table")

    val at22 = Seq(
      "hier_top3" -> top3("hier", dir),
      "hier_refine_top3" -> top3("hier_refine", dir),
      "ivfpq_hier_top3" -> top3("ivfpq_hier", dir),
      "rrf_fusion_topk" -> SparkEntry.queries("rrf_fusion_topk")(spark, dir))
    for ((name, df) <- at22) {
      val ids = rddIds(df)
      assert(r22.subsetOf(ids), s"$name does not read the (2, 2) routing table")
      assert(!r23.subsetOf(ids) && !r32.subsetOf(ids), s"$name reads another dial's table")
    }
    for ((name, df) <- Seq(
        "hier_f3_top3" -> top3("ivf", dir),
        "ivfpq_f3_top3" -> top3("ivfpq", dir))) {
      val ids = rddIds(df)
      assert(r23.subsetOf(ids) && !r22.subsetOf(ids), s"$name does not read the (2, 3) table")
    }
    val lloyd2 = rddIds(SparkEntry.queries("ivf_lloyd2_topk")(spark, dir))
    assert(r32.subsetOf(lloyd2) && !r22.subsetOf(lloyd2))
    assert(Shared.keys(spark).count { case (d, t) => d == dir && t.startsWith("hier_routing") } == 3)

    // one index per (session, dir), whatever the dial
    val idx = VecOps.hierIndexShared(emb, dir)
    assert(VecOps.hierIndexShared(emb, dir) eq idx)
    val silhouette = rddIds(SparkEntry.queries("silhouette_simplified")(spark, dir))
    assert(rddIds(idx.coarse).subsetOf(silhouette) && rddIds(idx.f2g).subsetOf(silhouette))
  }

  test("a new session builds its own index and routing tables") {
    val dir = sf("sf0.001")
    val emb = Tables(spark, dir).embeddings
    val s2 = spark.newSession()
    val emb2 = Tables(s2, dir).embeddings
    assert(!(VecOps.hierIndexShared(emb2, dir) eq VecOps.hierIndexShared(emb, dir)))
    val a = VecOps.hierRoutingShared(emb, dir, probes = 2, fprobes = 2)
    val b = VecOps.hierRoutingShared(emb2, dir, probes = 2, fprobes = 2)
    assert(!(a eq b) && rddIds(a) != rddIds(b))
    assert(VecOps.hierRoutingShared(emb2, dir, probes = 2, fprobes = 2) eq b)
  }

  test("a raw search over an ad-hoc centroid frame adds no memo entry") {
    val dir = sf("sf0.001")
    val emb = Tables(spark, dir).embeddings
    val before = Shared.keys(spark)
    val idx = VecOps.hierIndex(VecOps.seedCentroids(emb, 16))
    val routed = VecOps.hierRouting(emb, idx, probes = 2, fprobes = 2)
    assert(VecOps.ivfHierTopK(emb, routed, k = 3).count() > 0)
    assert(!(VecOps.hierRouting(emb, idx, probes = 2, fprobes = 2) eq routed))
    assert(Shared.keys(spark) == before)
  }
}
