package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSuite extends AnyFunSuite {

  test("median reports its sample count") {
    assert(Stats.median(Nil).isEmpty)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)).contains(Stats.Summary(2.0, 3)))
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)).contains(Stats.Summary(2.5, 4)))
  }

  test("a percentile needs ten samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    // nearest rank 90 of 100: ten samples (91..100) lie beyond it
    assert(Stats.percentile(xs, 0.9).contains(Stats.Summary(90.0, 100)))
    assert(Stats.percentile(xs.take(99), 0.9).isEmpty)
    assert(Stats.percentile(xs.take(20), 0.5).contains(Stats.Summary(10.0, 20)))
    assert(Stats.percentile(xs.take(19), 0.5).isEmpty)
    assert(Stats.percentile(Nil, 0.5).isEmpty)
    assertThrows[IllegalArgumentException](Stats.percentile(xs, 1.0))
  }

  test("job-span union counts overlapping jobs once") {
    assert(Stats.unionLength(Nil, 0, 100) == 0)
    assert(Stats.unionLength(Seq((10L, 20L), (30L, 40L)), 0, 100) == 20)
    assert(Stats.unionLength(Seq((10L, 30L), (20L, 40L)), 0, 100) == 30)
    assert(Stats.unionLength(Seq((10L, 50L), (20L, 30L)), 0, 100) == 40)
    assert(Stats.unionLength(Seq((30L, 40L), (10L, 20L), (15L, 35L)), 0, 100) == 30)
    // touching intervals merge; clipped to the span
    assert(Stats.unionLength(Seq((10L, 20L), (20L, 30L)), 0, 100) == 20)
    assert(Stats.unionLength(Seq((-50L, 20L), (90L, 150L)), 0, 100) == 30)
    assert(Stats.unionLength(Seq((200L, 300L)), 0, 100) == 0)
  }

  test("driver-only time is the span minus its job union") {
    assert(Stats.driverOnly(Nil, 1000, 1100) == 100)
    assert(Stats.driverOnly(Seq((1010L, 1030L), (1020L, 1050L)), 1000, 1100) == 60)
    assert(Stats.driverOnly(Seq((900L, 1200L)), 1000, 1100) == 0)
  }

  test("write amplification counts only the files a commit added") {
    val before = Seq("a" -> 100L, "b" -> 200L, "c" -> 300L)
    // b rewritten as b2, d added, a and c kept
    val after = Seq("a" -> 100L, "b2" -> 250L, "c" -> 300L, "d" -> 50L)
    assert(Stats.addedBytes(before, after) == 300L)
    assert(Stats.addedBytes(before, before) == 0L)
    assert(Stats.addedBytes(Nil, after) == 700L)
    assert(Stats.addedBytes(before, Nil) == 0L)
  }

  test("checksum ignores row order and keeps duplicates") {
    val rows = Seq(Seq[Any](1L, "x", 0.5), Seq[Any](2L, "y", 1.25), Seq[Any](2L, "y", 1.25))
    assert(Stats.checksum(rows) == Stats.checksum(rows.reverse))
    assert(Stats.checksum(rows).startsWith("3:"))
    assert(Stats.checksum(rows) != Stats.checksum(rows.distinct))
    assert(Stats.checksum(rows) != Stats.checksum(rows.updated(0, Seq[Any](1L, "x", 0.6))))
    assert(Stats.checksum(Nil) == "0:0000000000000000")
  }

  test("checksum rounds doubles as the oracle compare tolerates them") {
    def sum(v: Any) = Stats.checksum(Seq(Seq(v)))
    // above 10: two decimals
    assert(sum(12345.671) == sum(12345.674))
    assert(sum(12345.671) != sum(12345.681))
    // at most 10: six decimals
    assert(sum(0.1234561) == sum(0.1234564))
    assert(sum(0.123456) != sum(0.123457))
    assert(sum(-0.0) == sum(0.0))
    assert(sum(null) != sum("NULL"))
    assert(Stats.canonical(Seq(1.0, 2.5)) == "[1,2.5]")
    assert(Stats.canonical(java.math.BigDecimal.valueOf(1.50)) == "1.5")
  }

  test("seed mixing is deterministic and spreads nearby seeds") {
    assert(Stats.mix(1, 0) == Stats.mix(1, 0))
    val firsts = (1L to 20L).map(s => new scala.util.Random(Stats.mix(s, 1)).nextDouble())
    assert(firsts.distinct.size == 20)
    assert(firsts.max - firsts.min > 0.5)
    assert(Stats.mix(1, 0) != Stats.mix(1, 1))
  }

  test("curation cut points are seeded, ordered and inside the ids") {
    val ids = (1L to 500L).toIndexedSeq
    val a = Curation.cuts(ids, 7, 2)
    assert(a == Curation.cuts(ids, 7, 2))
    assert(a.length == 3)
    assert(a == a.sorted && a.distinct == a)
    assert(a.forall(ids.contains))
    assert(a.head >= 300 && a.last <= 500)
    assert((1L to 10L).map(s => Curation.cuts(ids, s, 2)).distinct.size > 5)
  }
}
