package graft.vec

import java.nio.file.{Files, Paths}

import graft.{Shared, SparkEntry, SparkSpec, Tables}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{col, round}

/** The ANN family table's contract: each [[VecQueries.AnnFamily]] row
  * builds its family's top-k query and both lenses, and all three read
  * one memo entry, the row's top-3 relation under the row's tag.
  *
  * The queries run on a copy of sf0.001's embeddings in a directory of
  * its own. Sessions share one CacheManager, so relations this suite
  * materializes over sf0.001 itself would stand in for the ones other
  * suites' sf0.001 plans read, and change the shapes they pin. */
class AnnFamilySpec extends SparkSpec {
  private val families = VecQueries.annFamilies
  private val familyTags = families.map(_.tag).toSet

  private lazy val dir: String = {
    val d = Files.createTempDirectory("graft_annfam")
    Files.copy(Paths.get(sf("sf0.001"), "embeddings.parquet"), d.resolve("embeddings.parquet"))
    d.toString
  }

  override def afterAll(): Unit =
    try org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir)): Unit
    finally super.afterAll()

  /** The row's raw search, unmemoized, projected as its top-k query is. */
  private def searched(f: VecQueries.AnnFamily, s: SparkSession): Seq[Row] =
    f.search(Tables(s, dir).embeddings, dir)
      .select(col("qid"), col("rank"), col("nid"),
        if (f.intScore) col("score") else round(col("score"), 4).as("score"))
      .orderBy("qid", "rank").collect().toSeq

  /** The memo entries of `s` under a family tag. */
  private def familyKeys(s: SparkSession): Set[(String, String)] =
    Shared.keys(s).filter { case (_, t) => familyTags(t) }

  test("13 rows with distinct suffixes, top-k names and memo tags") {
    assert(families.size == 13)
    assert(families.map(_.suffix).distinct.size == 13)
    assert(families.map(_.topk).distinct.size == 13)
    assert(familyTags.size == 13, "two rows share a memo tag")
  }

  for (f <- families)
    test(s"${f.suffix}: ${f.topk} and both lenses read one top-3 relation") {
      val s = spark.newSession()
      val names = Seq(f.topk, s"ann_recall_${f.suffix}", s"ann_ndcg_${f.suffix}")
      assert(names.forall(SparkEntry.queries.contains))
      val outs = names.map(n => SparkEntry.queries(n)(s, dir).collect().toSeq)
      assert(outs.forall(_.nonEmpty))
      assert(familyKeys(s) == Set((dir, f.tag)))
      val same = outs.head == searched(f, s)
      assert(same, s"${f.topk} differs from the row's search")
    }

  test("one session holds each row's own top-3 relation") {
    val s = spark.newSession()
    for (f <- families) {
      val same = SparkEntry.queries(f.topk)(s, dir).collect().toSeq == searched(f, s)
      assert(same, s"${f.topk} does not read its own row's search")
    }
    assert(familyKeys(s) == familyTags.map(t => (dir, t)))
  }
}
