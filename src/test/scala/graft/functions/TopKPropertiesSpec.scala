package graft.functions

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Distribution-invariance properties of the bounded top-k buffer
  * ([[TopKHeapBuf]], the state of `topk_heap`) — the law a partial/final
  * aggregate MUST satisfy for the map-side combine to be correct at any
  * partitioning: insert rows in any order, merge partial buffers in any
  * grouping, and the result equals global sort-take-k. (Pure JVM: insert
  * and mergeIn are plain methods, no Spark session needed.) */
class TopKPropertiesSpec extends AnyFunSuite {

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(1234L + i)))

  // scores drawn from few distinct values to exercise the id tie-break
  private val rowsGen: Gen[List[(Double, Long)]] = for {
    n <- Gen.choose(0, 200)
    rows <- Gen.listOfN(n, for {
      score <- Gen.oneOf(0.0, 1.0, 2.5, 2.5, 7.25, -3.0)
      id <- Gen.choose(0L, 50L)
    } yield (score, id))
  } yield rows

  private def fill(k: Int, rows: Seq[(Double, Long)]): TopKHeapBuf = {
    val b = new TopKHeapBuf(k)
    rows.foreach { case (s, i) => b.insert(s, i) }
    b
  }

  private def merged(a: TopKHeapBuf, b: TopKHeapBuf): TopKHeapBuf = {
    a.mergeIn(b); a
  }

  private def items(b: TopKHeapBuf): Seq[(Double, Long)] =
    (0 until b.size).map(j => (b.scores(j), b.ids(j)))

  test("reduce-then-merge in any split equals global sort-take-k") {
    samples(rowsGen, 12).foreach { rows =>
      // NOTE: duplicate (score,id) rows are legal input and the buffer
      // keeps both (a group can contain equal-scored distinct rows
      // upstream; the fixture key is unique so dedup here mirrors it)
      val data = rows.distinct
      val expected = data.sortBy { case (s, i) => (-s, i) }.take(3)
      // random 3-way split, each part inserted in its own order, then
      // merged in a different association
      val (p1, rest) = data.splitAt(data.length / 3)
      val (p2, p3) = rest.splitAt(rest.length / 2)
      val left = merged(fill(3, p1.reverse), fill(3, p2))
      val all = merged(left, fill(3, p3.reverse))
      assert(items(all) == expected,
        s"split-merge diverged: ${items(all)} vs $expected")
      // merge must also be commutative
      val swapped = merged(fill(3, p3), merged(fill(3, p2), fill(3, p1)))
      assert(items(swapped) == expected)
    }
  }

  test("buffer never exceeds k and stays totally ordered") {
    samples(rowsGen, 8).foreach { rows =>
      val buf = items(fill(4, rows))
      assert(buf.length <= 4)
      assert(buf == buf.sortBy { case (s, i) => (-s, i) })
    }
  }
}
