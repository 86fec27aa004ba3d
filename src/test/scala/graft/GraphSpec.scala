package graft

import graft.queries.GraphOps
import org.apache.spark.sql.functions._

/** PageRank invariants on graphs with known structure — the invariant
  * discipline for the iterative operator whose q113 oracle only checks one
  * fixture: symmetry ⇒ uniform ranks, structure ⇒ known ordering, mass
  * conservation up to quantified floor leakage, and run-to-run determinism
  * (integer fixed point has no accumulation order to vary).
  */
class GraphSpec extends SparkSpec {

  private def df(pairs: Seq[(String, String)]) = {
    import spark.implicits._
    pairs.toDF("src", "dst")
  }

  private def sym(pairs: Seq[(String, String)]) =
    df(pairs ++ pairs.map(_.swap))

  test("directed cycle: perfect symmetry gives exactly uniform ranks") {
    val n = 6
    val edges = df((0 until n).map(i => (s"v$i", s"v${(i + 1) % n}")))
    val ranks = GraphOps.pageRank(edges, iters = 8).collect()
    assert(ranks.length === n)
    // every node has indegree = outdegree = 1 and the start is uniform, so
    // each round maps uniform -> uniform; any deviation is an engine bug
    assert(ranks.map(_.getLong(1)).toSet.size === 1)
  }

  test("star: the hub outranks every leaf and leaves stay symmetric") {
    val leaves = (1 to 9).map(i => s"leaf$i")
    val edges = sym(leaves.map(l => ("hub", l)))
    val ranks = GraphOps.pageRank(edges, iters = 8)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val hub = ranks("hub")
    val leafRanks = leaves.map(ranks)
    assert(leafRanks.toSet.size === 1, "leaves are interchangeable")
    assert(hub > leafRanks.head * 5,
      s"hub $hub should dominate leaf ${leafRanks.head}")
  }

  test("rank mass is conserved up to quantified floor leakage") {
    val edges = sym(Seq("a" -> "b", "b" -> "c", "c" -> "d", "a" -> "c"))
    val iters = 8
    val ranks = GraphOps.pageRank(edges, iters).collect()
    val total = ranks.map(_.getLong(1)).sum
    val nNodes = ranks.length.toLong
    val nEdges = 8L
    // each round: < 1 unit lost per edge division, < 1 per damping floor
    // and per-node jump floor; initial split loses < nNodes
    val maxLeak = nNodes + iters * (nEdges + 2 * nNodes)
    assert(total <= 1000000000000L)
    assert(total >= 1000000000000L - maxLeak,
      s"leaked ${1000000000000L - total} > bound $maxLeak")
  }

  test("integer fixed point is run-to-run deterministic") {
    val edges = sym(Seq("a" -> "b", "b" -> "c", "a" -> "c", "c" -> "d"))
    val r1 = GraphOps.pageRank(edges, 8).collect()
      .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    val r2 = GraphOps.pageRank(edges, 8).collect()
      .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    assert(r1.toSeq === r2.toSeq)
  }

  test("one iteration plans hash joins only — no cartesian, no BNLJ") {
    val edges = sym((0 until 40).map(i => (s"u$i", s"t${i % 4}")))
    val plan = GraphOps.pageRank(edges, iters = 1)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoop"), plan)
  }

  private def pairsDf(pairs: Seq[(Long, Long)]) = {
    import spark.implicits._
    pairs.toDF("a", "b")
  }

  private def triMap(pairs: Seq[(Long, Long)]) =
    GraphOps.triangleClustering(pairsDf(pairs)).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)))))
      .toMap

  test("q134 core: K4, a pendant, and an open wedge") {
    // K4 on 1-4 (4 triangles, each node in 3), node 5 pendant off 4,
    // open wedge 6-7-8 (no triangle)
    val got = triMap(Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (6L, 7L), (7L, 8L)))
    assert(got(1L) === ((3L, 3L, Some(1.0))))
    assert(got(2L) === ((3L, 3L, Some(1.0))))
    assert(got(3L) === ((3L, 3L, Some(1.0))))
    // node 4: degree 4, still 3 triangles → C = 6/12 = 0.5
    assert(got(4L) === ((4L, 3L, Some(0.5))))
    // pendant: degree 1 → coefficient UNDEFINED (NULL), not 0
    assert(got(5L) === ((1L, 0L, None)))
    // wedge center: 2 neighbors, unclosed → 0.0
    assert(got(7L) === ((2L, 0L, Some(0.0))))
  }

  test("q134 core: degree-oriented enumeration ≡ brute force on a random graph") {
    val rnd = new scala.util.Random(11)
    val pairs = (for {
      a <- 1L to 30L; b <- (a + 1) to 30L if rnd.nextInt(5) == 0
    } yield (a, b)).toSeq
    val got = triMap(pairs)
    val adj = pairs.flatMap(p => Seq(p, p.swap))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    for ((v, (dg, tri, coeff)) <- got) {
      val nbrs = adj(v)
      assert(dg === nbrs.size.toLong)
      val t = nbrs.toSeq.combinations(2)
        .count { case Seq(x, y) => adj(x).contains(y) }
      assert(tri === t.toLong, s"node $v")
      if (dg >= 2)
        assert(coeff.get ===
          BigDecimal(2.0 * t / (dg * (dg - 1.0)))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble ||
          math.abs(coeff.get - 2.0 * t / (dg * (dg - 1.0))) < 1e-6)
      else assert(coeff.isEmpty)
    }
  }

  test("q181 assortativity equals a driver-side moment recompute and " +
      "sits in [-1, 1]") {
    import org.apache.spark.sql.functions._
    val r = queries.GraphOps.q181DegreeAssortativity.fn(spark, sf).head
    // rebuild the ≥2-support co-purchase graph in plain Scala
    val baskets = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey")).distinct().collect()
      .map(x => (x.getLong(0), x.getLong(1)))
    val pairCounts = baskets.groupBy(_._1).values.flatMap { items =>
      val ps = items.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- i + 1 until ps.length)
        yield (ps(i), ps(j))
    }.groupBy(identity).view.mapValues(_.size).toMap
    val und = pairCounts.filter(_._2 >= 2).keys.toSeq
    val directed = und ++ und.map(_.swap)
    val deg = directed.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    assert(r.getLong(0) === deg.size.toLong, "n_nodes")
    assert(r.getLong(1) === und.length.toLong, "n_edges")
    val xy = directed.map { case (a, b) => (deg(a), deg(b)) }
    val mm = xy.length.toLong
    val sx = xy.map(_._1).sum; val sy = xy.map(_._2).sum
    val sxy = xy.map(p => p._1 * p._2).sum
    val sxx = xy.map(p => p._1 * p._1).sum
    val syy = xy.map(p => p._2 * p._2).sum
    val den = math.sqrt(mm.toDouble * sxx - sx.toDouble * sx) *
      math.sqrt(mm.toDouble * syy - sy.toDouble * sy)
    val expect = BigDecimal((mm.toDouble * sxy - sx.toDouble * sy) / den)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getDouble(2) === expect)
    assert(r.getDouble(2) >= -1.0 && r.getDouble(2) <= 1.0)
  }

  test("q182 equals a driver-side peeling replay and contains the " +
      "true 2-core fixpoint") {
    import org.apache.spark.sql.functions._
    val got = queries.GraphOps.q182KCore.fn(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // rebuild the affix graph in plain Scala (MessageDigest sha256 is
    // irrelevant here — equal 50-char affixes ⟺ equal hashes)
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def pre(t: String) = t.take(50)
    def suf(t: String) = t.substring(math.max(t.length - 50, 0))
    val und = (docs.groupBy(d => pre(d._2)).values ++
        docs.groupBy(d => suf(d._2)).values)
      .flatMap { g =>
        val ids = g.map(_._1).sorted
        for (i <- ids.indices; j <- i + 1 until ids.length)
          yield (ids(i), ids(j))
      }.toSet.toSeq
    def peel(rounds: Int): Map[Long, Long] = {
      var edges = und ++ und.map(_.swap)
      var surv = edges.groupBy(_._1).view.mapValues(_.size.toLong)
        .filter(_._2 >= 2).toMap
      for (_ <- 1 to rounds) {
        edges = edges.filter(e =>
          surv.contains(e._1) && surv.contains(e._2))
        surv = edges.groupBy(_._1).view.mapValues(_.size.toLong)
          .filter(_._2 >= 2).toMap
      }
      surv
    }
    assert(got === peel(4))
    assert(got.nonEmpty, "fixture must contain a dense duplicate family")
    // monotonicity + fixpoint containment: deeper peeling only shrinks,
    // and the true core (peel to convergence) survives round 4
    var fix = peel(4); var next = peel(5); var r = 5
    while (next != fix && r < 50) { fix = next; r += 1; next = peel(r) }
    assert(fix.keySet.subsetOf(got.keySet),
      "the converged 2-core must survive the fixed 4 rounds")
    assert(got.values.forall(_ >= 2))
  }

  test("q190 LPA: a bridge joins components but not communities; " +
      "matches the hand-simulated recurrence") {
    import spark.implicits._
    // two triangles {1,2,3} and {4,5,6} joined by the single bridge 3—4:
    // connected components see ONE component; majority label propagation
    // must keep the two dense triangles apart — the semantic distinction
    // the operator exists for
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L),
      (5L, 6L), (3L, 4L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val got = graft.queries.GraphOps.labelPropagation(edges, 4)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    // hand-simulated deterministic sync recurrence (4 rounds):
    // {1,2,3} -> label 1, {4,5,6} -> label 3 (converged at round 3)
    assert(got === Map(
      1L -> ((1L, 3L)), 2L -> ((1L, 3L)), 3L -> ((1L, 3L)),
      4L -> ((3L, 3L)), 5L -> ((3L, 3L)), 6L -> ((3L, 3L))), got.toString)
    // the DOCUMENTED bipartite oscillation, pinned: an isolated pair
    // swaps labels every sync round, so an even round budget lands back
    // on self-labels — a defined, replayable answer (the fixed-round
    // trade the scaladoc states), not hidden flapping
    val pair = Seq((7L, 8L), (8L, 7L)).toDF("src", "dst")
    val p = graft.queries.GraphOps.labelPropagation(pair, 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(p === Map(7L -> 7L, 8L -> 8L), p.toString)
    val p3 = graft.queries.GraphOps.labelPropagation(pair, 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(p3 === Map(7L -> 8L, 8L -> 7L), p3.toString)
  }

  test("q198 Adamic–Adar replays from driver-side neighbor sets; " +
      "degree-1 users never contribute") {
    val got = GraphOps.q198AdamicAdar.fn(spark, sf).collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    val inc = Tables.events(spark, sf)
      .filter(col("user_id").isNotNull && col("event_type").isNotNull)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("c")).filter(col("c") >= 15)
      .select(col("user_id"), col("event_type")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val byType = inc.groupBy(_._2).map { case (t, v) => t -> v.map(_._1).toSet }
    val du = inc.groupBy(_._1).map { case (u, v) => u -> v.length }
    val types = byType.keys.toSeq.sorted
    var pairsChecked = 0
    for (i <- types.indices; j <- i + 1 until types.length) {
      val (ta, tb) = (types(i), types(j))
      val common = byType(ta) & byType(tb)
      if (common.nonEmpty) {
        pairsChecked += 1
        val (gc, gaa, gj) = got((ta, tb))
        assert(gc === common.size.toLong, s"($ta,$tb) common")
        assert(common.forall(du(_) >= 2), "common neighbors have deg >= 2")
        val aa = common.toSeq.map(u => 1.0 / math.log(du(u))).sum
        val jac = common.size.toDouble /
          (byType(ta).size + byType(tb).size - common.size)
        assert(math.abs(gaa - aa) < 1e-5, s"($ta,$tb) aa $gaa vs $aa")
        assert(math.abs(gj - jac) < 1e-6, s"($ta,$tb) jaccard")
      } else assert(!got.contains((ta, tb)), s"($ta,$tb) fabricated")
    }
    assert(pairsChecked === got.size, "every emitted pair was checked")
    assert(got.nonEmpty)
  }

  test("q198 hot-key cap: inactive on the fixture (capped ≡ uncapped " +
      "bit-for-bit), and a planted 12-type flood user is bounded to its " +
      "top-cap incidence with uncapped weights/margins") {
    import graft.queries.GraphOps
    val ev = Tables.events(spark, sf)
    // cap-inactive equality: the registered HotKeyCap = 64 exceeds every
    // fixture degree, so the capped plan must equal a cap-free run row
    // for row — the executable form of "the guard does not bite here"
    val capped = GraphOps.adamicAdarPlan(ev, GraphOps.HotKeyCap)
      .collect().map(_.toString).toSeq
    val uncapped = GraphOps.adamicAdarPlan(ev, Int.MaxValue)
      .collect().map(_.toString).toSeq
    assert(capped.nonEmpty && capped === uncapped,
      "HotKeyCap must be inactive on the fixture")

    // capped flood: one user touches 12 types (distinct activity counts
    // 26..15 so the top-cap selection order is unambiguous), a control
    // user touches 2; cap = 4 keeps the flood user's 4 most-active types
    val d = "/tmp/graft_graph_flood"
    import spark.implicits._
    val flood = (0 until 12).flatMap { t =>
      // type t gets 26 - t events (>= 15 = MinPairCount) for user 1
      (0 until (26 - t)).map(k => ((t * 100 + k).toLong,
        (t * 3600L + k * 60) * 1000000000L, 1L, f"ty$t%02d", 1.0, "{}"))
    }
    val control = Seq("ty00", "ty01").zipWithIndex.flatMap { case (ty, i) =>
      (0 until 20).map(k => ((10000 + i * 100 + k).toLong,
        (i * 3600L + k * 60) * 1000000000L, 2L, ty, 1.0, "{}"))
    }
    (flood ++ control)
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/events.parquet")
    val out = GraphOps.adamicAdarPlan(Tables.events(spark, d), 4)
      .collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    // user 1 survives only on its top-4 types ty00..ty03 (counts 26..23);
    // user 2 contributes the (ty00, ty01) pair. Expected pair set:
    // C(4,2) = 6 pairs among ty00..ty03 — nothing touching ty04..ty11.
    assert(out.keySet === (for {
      i <- 0 until 4; j <- i + 1 until 4
    } yield (f"ty$i%02d", f"ty$j%02d")).toSet,
      s"capped pair set wrong: ${out.keySet}")
    // weights stay UNCAPPED-exact: user 1's degree is 12 (not 4), so the
    // pairs only it witnesses score 1/ln(12); (ty00, ty01) adds user 2
    // at its true degree 2. Margins too: ty00's dt = 2, ty02's dt = 1.
    val w1 = 1.0 / math.log(12.0)
    val (c01, aa01, j01) = out(("ty00", "ty01"))
    assert(c01 === 2L && math.abs(aa01 - (w1 + 1.0 / math.log(2.0))) < 1e-5)
    assert(math.abs(j01 - 2.0 / 2.0) < 1e-6, "both margins include both users")
    val (c23, aa23, j23) = out(("ty02", "ty03"))
    assert(c23 === 1L && math.abs(aa23 - w1) < 1e-5)
    assert(math.abs(j23 - 1.0) < 1e-6)
  }
}
