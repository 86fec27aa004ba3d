package graft

import graft.queries.Similarity
import org.apache.spark.sql.functions._

/** q300 (participation ratio from the q126 covariance rows): replayed
  * against an independent in-memory covariance walk and held to the
  * [1, D] spectral bounds.
  */
class PcaSpec extends SparkSpec {

  test("q300 participation ratio replays from a driver-side covariance " +
      "walk and respects the [1, D] spectral bounds") {
    val r = Similarity.q300ParticipationRatio.fn(spark, sf).collect().head
    val raw = Tables.embeddings(spark, sf)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(x =>
        math.round(x.toDouble * 1000).toDouble).toArray)
    val n = raw.length
    val dims = raw.head.length
    val mean = Array.tabulate(dims)(i => raw.map(_(i)).sum / n)
    val c = Array.tabulate(dims, dims) { (i, j) =>
      raw.map(v => (v(i) - mean(i)) * (v(j) - mean(j))).sum / n / 1e6
    }
    val tr = (0 until dims).map(i => c(i)(i)).sum
    val fro = c.flatten.map(x => x * x).sum
    val pr = tr * tr / fro
    assert(r.getLong(0) === dims.toLong && r.getLong(1) === n.toLong)
    assert(math.abs(r.getDouble(2) - tr) < 1e-4 * (1 + tr), "trace")
    assert(math.abs(r.getDouble(3) - pr) < 1e-3 * (1 + pr), "PR")
    assert(r.getDouble(3) >= 1.0 - 1e-6 &&
      r.getDouble(3) <= dims + 1e-6, "PR in [1, D]")
    assert(math.abs(r.getDouble(4) - r.getDouble(3) / dims) < 1e-4,
      "pr_share is PR/D")
  }
}
