package graft

import graft.functions.{MmrMicroCand, MmrMicroTopK}
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** MMR rerank nets for [[MmrMicroTopK]] (q118's aggregate): the pool laws
  * under random partitioning, the finishing rerank against an independent
  * integer reimplementation, and the diversification effect itself on a
  * planted near-dup fixture.
  */
class MmrSpec extends AnyFunSuite {

  /** Independent integer greedy twin of MmrMicroTopK.finish — same
    * micro-cosine convention (round-6 HALF_UP ×10⁶), list-based, no shared
    * code with the aggregator's while-loop. */
  private def microCos(a: Seq[Double], b: Seq[Double]): Long = {
    val d = a.zip(b).map { case (x, y) => x * y }.sum
    val n1 = math.sqrt(a.map(x => x * x).sum)
    val n2 = math.sqrt(b.map(x => x * x).sum)
    if (n1 == 0 || n2 == 0) 0L
    else (BigDecimal(d / n1 / n2)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP) * 1000000).toLong
  }

  private def mmrMicroRef(
      pool: Seq[MmrMicroCand], outK: Int, num: Long, den: Long): Seq[(Long, Long)] = {
    var chosen = Vector.empty[MmrMicroCand]
    var out = Vector.empty[(Long, Long)]
    var rest = pool.toVector
    while (out.size < outK && rest.nonEmpty) {
      val scored = rest.map { c =>
        val red = if (chosen.isEmpty) 0L
          else chosen.map(s => microCos(c.v, s.v)).max
        (c, num * c.irel - (den - num) * red)
      }
      val (best, s) = scored.minBy { case (c, sc) => (-sc, c.id) }
      chosen :+= best
      out :+= ((best.id, s))
      rest = rest.filterNot(_.id == best.id)
    }
    out
  }

  test("micro finish() matches the independent integer greedy (ids AND scores)") {
    val rng = new Random(11)
    for (round <- 1 to 20) {
      val agg = new MmrMicroTopK(20, 5, 7, 10)
      val pool = Vector.tabulate(12 + rng.nextInt(20))(i =>
        MmrMicroCand(i.toLong, rng.nextInt(2000001) - 1000000L,
          Seq.fill(8)(rng.nextDouble() - 0.5)))
      val viaAgg = agg.finish(pool.foldLeft(agg.zero)(agg.reduce))
        .map(p => (p.id, p.s))
      val expected = mmrMicroRef(
        pool.sortBy(c => (-c.irel, c.id)).take(20), 5, 7, 10)
      assert(viaAgg === expected, s"round $round")
    }
  }

  test("micro pool selection is partition- and merge-order-invariant") {
    val rng = new Random(23)
    for (_ <- 1 to 10) {
      val agg = new MmrMicroTopK(10, 3, 7, 10)
      val xs = Vector.tabulate(60)(i =>
        MmrMicroCand(i.toLong, rng.nextInt(200001).toLong,
          Seq.fill(4)(rng.nextDouble())))
      val parts = rng.shuffle(xs).grouped(7).toVector
      val merged = parts.map(_.foldLeft(agg.zero)(agg.reduce))
        .foldLeft(agg.zero)(agg.merge)
      val direct = xs.foldLeft(agg.zero)(agg.reduce)
      assert(merged === direct)
    }
  }

  test("micro first pick is the top-relevance hit; picks are distinct") {
    val rng = new Random(13)
    val agg = new MmrMicroTopK(20, 5, 7, 10)
    val pool = Vector.tabulate(30)(i =>
      MmrMicroCand(i.toLong, rng.nextInt(1000001).toLong,
        Seq.fill(8)(rng.nextDouble() - 0.5)))
    val picks = agg.finish(pool.foldLeft(agg.zero)(agg.reduce))
    assert(picks.map(_.id).distinct.size === picks.size)
    val topRel = pool.minBy(c => (-c.irel, c.id)).id
    assert(picks.head.id === topRel)
    assert(picks.map(_.rk) === (1 to picks.size))
  }

  test("micro diversification displaces a planted near-duplicate hit") {
    // candidate 1 is relevance-rank 2 but nearly identical to the top hit;
    // candidate 2 is slightly less relevant and orthogonal — plain top-2
    // keeps the duplicate, MMR must swap in the orthogonal one
    val top = MmrMicroCand(0L, 990000L, Seq(1.0, 0.0, 0.0))
    val nearDup = MmrMicroCand(1L, 980000L, Seq(0.999, 0.01, 0.0))
    val diverse = MmrMicroCand(2L, 900000L, Seq(0.0, 1.0, 0.0))
    val agg = new MmrMicroTopK(3, 2, 1, 2)
    val picks = agg.finish(Seq(top, nearDup, diverse)
      .foldLeft(agg.zero)(agg.reduce)).map(_.id)
    assert(picks === Seq(0L, 2L), s"got $picks")
  }
}
