package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** Integer-micro-space candidate for [[MmrMicroTopK]]: `irel` is the
  * query-relevance cosine in 10⁻⁶ units (round(cos·10⁶) of the engine's
  * round-6 cosine — an exact integer in both Spark and any ANSI replay). */
case class MmrMicroCand(id: Long, irel: Long, v: Seq[Double])

/** A diversified pick in micro-score space: `s` = lamNum·irel −
  * (lamDen−lamNum)·redundancy, an exact integer (10⁻⁷-cosine units for
  * λ=7/10). */
case class MmrMicroPick(id: Long, rk: Int, s: Long)

/** Maximal-Marginal-Relevance top-k as a typed `Aggregator` (the §2.10
  * sanctioned custom-aggregate surface; zero row-level UDFs), in INTEGER
  * fixed point so the greedy rerank gets a bit-exact SQL twin (the q113
  * PageRank discipline). The buffer keeps the `poolK` highest-relevance
  * candidates per query by (irel desc, id asc) — an algebraic
  * sorted-merge-truncate exactly like [[BottomK]], so map-side combine
  * ships ≤ poolK rows per (query, task) and no window ever sorts the
  * corpus — and `finish` runs the greedy MMR rerank over that bounded
  * pool: pick argmax of λ·rel − (1−λ)·max_{j∈chosen} cos(i, j) until
  * `outK` picks are made. The O(poolK²) pairwise work happens on ≤ poolK
  * vectors per query AFTER aggregation, never on the corpus.
  *
  * λ is the rational lamNum/lamDen, relevance arrives as micro-units
  * (already rounded in DataFrame space with the oracle-proven round-6
  * cosine), and the pairwise redundancy cosine is re-derived in `finish`
  * with exactly the engine's arithmetic — sequential index-order folds for
  * dot and norms (the `graft_dot`/`graft_norm` loop), division order
  * dot/|a|/|b|, round to 6 decimals via BigDecimal HALF_UP (Spark's
  * `round`), then ×10⁶ to an exact integer. Every comparison after that
  * is integer math, so an unrolled greedy-pick CTE chain reproduces the
  * pick list and scores exactly — q118 is hash-verified against DuckDB
  * this way.
  *
  * Determinism: ties at every stage break by candidate id (buffer order
  * and argmax comparison), so the pick list is a pure function of the
  * candidate set. MmrSpec proves the buffer laws under random
  * partitioning and the pick order on hand-built pools.
  */
class MmrMicroTopK(poolK: Int, outK: Int, lamNum: Long, lamDen: Long)
    extends Aggregator[MmrMicroCand, Seq[MmrMicroCand], Seq[MmrMicroPick]] {
  require(poolK >= outK && outK > 0, s"need poolK >= outK > 0")
  require(lamDen > 0 && lamNum >= 0 && lamNum <= lamDen,
    s"lambda = $lamNum/$lamDen must lie in [0,1]")

  override def zero: Seq[MmrMicroCand] = Vector.empty

  private def ordered(xs: Seq[MmrMicroCand]): Seq[MmrMicroCand] =
    xs.sortBy(c => (-c.irel, c.id)).take(poolK)

  override def reduce(buf: Seq[MmrMicroCand], a: MmrMicroCand): Seq[MmrMicroCand] =
    if (buf.size >= poolK) {
      val last = buf.last
      if (a.irel < last.irel || (a.irel == last.irel && a.id >= last.id)) buf
      else ordered(buf :+ a)
    } else ordered(buf :+ a)

  override def merge(b1: Seq[MmrMicroCand], b2: Seq[MmrMicroCand]): Seq[MmrMicroCand] =
    ordered(b1 ++ b2)

  /** round(dot/|a|/|b|, 6)·10⁶ as an exact integer — the oracle-parity
    * cosine (same fold order, same division order, same HALF_UP rounding
    * as the codegen'd DataFrame-side `cosine`). Zero-norm pairs yield 0
    * (callers filter NULL-cosine candidates before the aggregate, so this
    * is a public-surface guard, not a reachable q118 state). */
  private def icos(a: Seq[Double], b: Seq[Double]): Long = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    val la = math.sqrt(na); val lb = math.sqrt(nb)
    if (la == 0 || lb == 0) 0L
    else (BigDecimal(d / la / lb)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP) * BigDecimal(1000000))
      .toLong
  }

  override def finish(pool: Seq[MmrMicroCand]): Seq[MmrMicroPick] = {
    val chosen = scala.collection.mutable.ArrayBuffer.empty[MmrMicroCand]
    val picks = scala.collection.mutable.ArrayBuffer.empty[MmrMicroPick]
    val remaining = scala.collection.mutable.ArrayBuffer(pool: _*)
    while (picks.size < outK && remaining.nonEmpty) {
      var best = -1; var bestScore = Long.MinValue
      for (i <- remaining.indices) {
        val c = remaining(i)
        val redundancy =
          if (chosen.isEmpty) 0L
          else chosen.map(s => icos(c.v, s.v)).max
        val score = lamNum * c.irel - (lamDen - lamNum) * redundancy
        if (best < 0 || score > bestScore ||
          (score == bestScore && c.id < remaining(best).id)) {
          best = i; bestScore = score
        }
      }
      val pick = remaining.remove(best)
      chosen += pick
      picks += MmrMicroPick(pick.id, picks.size + 1, bestScore)
    }
    picks.toSeq
  }

  override def bufferEncoder: Encoder[Seq[MmrMicroCand]] =
    ExpressionEncoder[Seq[MmrMicroCand]]()
  override def outputEncoder: Encoder[Seq[MmrMicroPick]] =
    ExpressionEncoder[Seq[MmrMicroPick]]()
}
