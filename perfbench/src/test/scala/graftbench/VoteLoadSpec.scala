package graftbench

import org.scalatest.funsuite.AnyFunSuite

class VoteLoadSpec extends AnyFunSuite {

  private def bruteTally(from: Long, until: Long): Map[String, Long] =
    (from until until).groupBy(id => s"c${java.lang.Math.floorMod(id * 31 + 7, 3L)}")
      .map { case (k, ids) => k -> ids.size.toLong }

  test("the closed-form tally matches counting every voter") {
    val rnd = new scala.util.Random(7)
    val ranges = Seq((0L, 0L), (0L, 1L), (0L, 3L), (5L, 6L), (40000L, 280000L)) ++
      Seq.fill(50) { val a = rnd.nextInt(100000).toLong; (a, a + rnd.nextInt(5000)) }
    ranges.foreach { case (a, b) =>
      val expected = bruteTally(a, b)
      val closed = VoteLoad.expectedTally(a, b)
      assert(closed.values.sum == b - a)
      assert(closed.filter(_._2 > 0) == expected, s"range [$a, $b)")
    }
  }

  test("the seed moves the id range along whole slices") {
    (0L until 12L).foreach { seed =>
      val from = VoteLoad.idOffset(seed, 50)
      assert(from % (VoteLoad.Slices * 50) == 0)
    }
    assert((0L until 5L).map(VoteLoad.idOffset(_, 10)).distinct.size == 5)
    assert(VoteLoad.idOffset(-1, 10) >= 0)
  }

  test("shortfall separates missing votes from extra ones") {
    val exp = Map("c0" -> 10L, "c1" -> 10L, "c2" -> 10L)
    assert(VoteLoad.shortfall(exp, exp) == ((0L, 0L)))
    assert(VoteLoad.shortfall(exp, Map("c0" -> 10L, "c1" -> 7L)) == ((13L, 0L)))
    assert(VoteLoad.shortfall(exp, exp.updated("c2", 12L)) == ((0L, 2L)))
  }
}
