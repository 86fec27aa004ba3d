package graft

import graft.operators.Fan
import org.apache.spark.sql.functions._

/** Nets for q132's exact prefix-filtered similarity join: equality with an
  * INDEPENDENT brute-force reimplementation (plain Scala sets over the
  * collected fixture — no Spark, no shared code path), the exact J = 0.9
  * boundary, the empty result, and sub-window degenerates. The no-cartesian
  * plan assertion lives in ScaleSpec's candidate-generator sweep.
  */
class PrefixJoinSpec extends SparkSpec {

  import spark.implicits._

  private def run(rows: Seq[(Long, String)]): Map[(Long, Long), (Long, Long)] =
    graft.queries.Dedup
      .prefixJaccardPairs(rows.toDF("doc_id", "text"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap

  private def brute(rows: Seq[(Long, String)]): Map[(Long, Long), (Long, Long)] = {
    val sets = rows.map { case (id, t) => id -> t.split(" ", -1).toSet }
    (for {
      (a, sa) <- sets; (b, sb) <- sets if a < b
      inter = (sa & sb).size.toLong
      uni = (sa | sb).size.toLong
      if inter * 10 >= uni * 9
    } yield (a, b) -> (inter, uni)).toMap
  }

  private val base =
    (1 to 18).map(i => s"w$i").mkString(" ") // 18 shared tokens

  test("matches brute force on a mixed corpus, zero false negatives") {
    val docs = Seq(
      1L -> s"$base a19",          // J(1,2) = 18/20 = 0.9 exactly — KEPT
      2L -> s"$base b19",
      3L -> s"$base a19",          // exact dup of 1 — J = 1
      4L -> ((1 to 15).map(i => s"w$i").mkString(" ") + " x y z"), // J(4,1) = 15/23 < 0.9
      5L -> "totally unrelated tokens here",
      6L -> "totally unrelated tokens here",  // J(5,6) = 1
      7L -> "short",
      8L -> "",                    // single empty token
    )
    val got = run(docs)
    val want = brute(docs)
    assert(got === want, s"got=$got want=$want")
    // spot-check the shapes the theorem must cover: the exact-threshold
    // boundary pair, the exact dup, and the identical tiny docs
    assert(got.contains((1L, 2L)) && got((1L, 2L)) === (18L, 20L))
    assert(got((1L, 3L)) === (19L, 19L))
    assert(got((5L, 6L)) === (4L, 4L))
    assert(!got.contains((1L, 4L)))
  }

  test("all-dissimilar corpus yields the empty result, not a crash") {
    val docs = (1L to 10L).map(i =>
      i -> (1 to 10).map(j => s"t${i}_$j").mkString(" "))
    assert(run(docs).isEmpty)
  }

  test("graft_sorted_intersect_i64: edges and codegen/interpreted parity") {
    import spark.implicits._
    val cases = Seq(
      (Seq(1L, 3L, 5L), Seq(1L, 2L, 3L, 9L), 2L), // partial overlap
      (Seq.empty[Long], Seq(1L, 2L), 0L),          // empty side
      (Seq(4L, 8L), Seq(1L, 2L), 0L),              // disjoint
      (Seq(1L, 2L, 3L), Seq(1L, 2L, 3L), 3L),      // identical
      (Seq(1L, 1L, 2L), Seq(1L, 1L, 1L), 2L),      // dup: matched positions
    )
    val got = cases.toDF("a", "b", "want")
      .selectExpr("graft_sorted_intersect_i64(a, b) AS got", "want")
      .collect()
    got.foreach(r => assert(r.getLong(0) === r.getLong(1), r.toString))
    // interpreted path (eval) must agree with the codegen'd path above
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, LongType}
    def lit(xs: Seq[Long]) =
      Literal.create(ArrayData.toArrayData(xs.toArray), ArrayType(LongType))
    for ((a, b, want) <- cases)
      assert(graft.functions.SortedIntersectI64(lit(a), lit(b))
        .eval(null) === want)
  }

  test("q138 hamming join: pigeonhole plan ≡ brute force over fingerprints") {
    import spark.implicits._
    // near-dup blocks by small token substitutions → fingerprints cluster
    // within a few bits; cross-block fingerprints are far apart
    val rnd = new scala.util.Random(23)
    val docs = (0 until 4).flatMap { blk =>
      val toks = (1 to 60).map(j => s"blk${blk}_tok$j")
      (0 until 6).map { m =>
        val mutated = toks.map(t =>
          if (rnd.nextInt(30) == 0) s"m${rnd.nextInt(50)}" else t)
        (blk * 6L + m + 1L) -> mutated.mkString(" ")
      }
    }
    val df = docs.toDF("doc_id", "text")
    val got = graft.queries.Dedup.hammingPairs(df).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    // brute force straight off the fingerprint classes
    val fps = graft.queries.Dedup.simhash48(df).collect()
      .map(r => r.getLong(1))
    val classes = fps.groupBy(identity).map { case (f, xs) => f -> xs.length }
    val want = (
      (for {
        (fa, na) <- classes; (fb, nb) <- classes if fa < fb
        h = java.lang.Long.bitCount(fa ^ fb).toLong if h <= 3
      } yield (fa, fb) -> ((h, na.toLong, nb.toLong, na.toLong * nb))) ++
      classes.collect { case (f, n) if n >= 2 =>
        (f, f) -> ((0L, n.toLong, n.toLong, n.toLong * (n - 1) / 2)) }
    ).toMap
    assert(got === want)
    assert(want.nonEmpty, "fixture must produce hamming-close pairs")
    // and the candidate join must be banded, never a cartesian product
    val plan = graft.queries.Dedup.hammingPairs(df)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q145: deletion-neighborhood join ≡ brute force; q96 is a subset") {
    import spark.implicits._
    val names = Seq(
      1L -> "widget",   // base
      2L -> "widgot",   // substitution  → dist 1 to widget
      3L -> "widet",    // deletion      → dist 1 to widget
      4L -> "widgets",  // insertion     → dist 1 to widget
      5L -> "wigdet",   // transposition → dist 2: must be EXCLUDED
      6L -> "widget",   // exact dup     → dist 0
      7L -> "unrelated name",
    )
    val got = graft.queries.Dedup
      .editDistancePairs(names.toDF("s_suppkey", "s_name"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val want = (for {
      (a, na) <- names; (b, nb) <- names if a < b
      d = levenshteinRef(na, nb) if d <= 1
    } yield (a, b) -> d.toLong).toMap
    assert(got === want)
    assert(got((1L, 2L)) === 1L && got((1L, 3L)) === 1L
      && got((1L, 4L)) === 1L && got((1L, 6L)) === 0L)
    assert(!got.contains((1L, 5L)), "transposition is distance 2")
    // the exact join dominates q96's parity blocking on the real corpus
    val sup = graft.Tables.supplier(spark, sf)
    val exact = graft.queries.Dedup.editDistancePairs(sup)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val blocked = SparkEntry.queries("q96_fuzzy_linkage")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(blocked.subsetOf(exact),
      s"q96 found pairs the exact join missed: ${blocked.diff(exact)}")
  }

  private def levenshteinRef(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  test("randomized corpora: prefix plan ≡ brute force") {
    // deterministic seed; blocks of near-dups built by token substitution
    val rnd = new scala.util.Random(7)
    val docs = (0 until 6).flatMap { blk =>
      val toks = (1 to 30).map(j => s"b${blk}_$j")
      (0 until 5).map { m =>
        val mutated = toks.map(t =>
          if (rnd.nextInt(20) == 0) s"mut_${rnd.nextInt(100)}" else t)
        (blk * 5L + m + 1L) -> mutated.mkString(" ")
      }
    }
    assert(run(docs) === brute(docs))
  }

  // ---- q187 exact substring-dup nets -------------------------------------

  /** Naive q187 reimplementation: Scala sliding windows over token
    * vectors — no anchors, no hashing, no extension; a genuinely different
    * mental model from the pigeonhole plan (the q180 twin lesson). */
  private def bruteSubstring(rows: Seq[(Long, String)]): Map[(Long, Long), Long] = {
    val wins = rows.map { case (id, t) =>
      id -> t.split(" ", -1).toSeq.sliding(50).filter(_.size == 50).toSet
    }
    (for {
      (a, wa) <- wins; (b, wb) <- wins if a < b
      shared = (wa & wb).size.toLong
      if shared > 0
    } yield (a, b) -> shared).toMap
  }

  private def runSubstring(rows: Seq[(Long, String)]): Map[(Long, Long), Long] =
    graft.queries.Dedup
      .substringDupPairs(rows.toDF("doc_id", "text"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap

  test("q187: anchor-extend plan ≡ naive window-set scan, incl. boundaries") {
    val run50 = (1 to 50).map(i => s"s$i").mkString(" ")  // exactly-50 run
    val run49 = (1 to 49).map(i => s"r$i").mkString(" ")  // one short of it
    val tailA = (1 to 12).map(i => s"a$i").mkString(" ")
    val headB = (1 to 12).map(i => s"b$i").mkString(" ")
    val long = (1 to 120).map(i => s"L$i").mkString(" ")
    val docs = Seq(
      // the 50-run at offset 1 in doc 1 vs offset 13 in doc 2: misaligned
      // vs any fixed stride, which is exactly what the sliding side covers
      1L -> s"$run50 $tailA",
      2L -> s"$headB $run50",
      // a 49-token run shared between ≥50-token docs must NOT pair
      3L -> s"$run49 $tailA x0",
      4L -> s"$headB $run49 y0",
      // identical 120-token docs: all 71 windows shared
      5L -> long,
      6L -> long,
      // sub-50-token doc: excluded even though it shares tokens with 1
      7L -> run49,
    )
    val got = runSubstring(docs)
    val want = bruteSubstring(docs)
    assert(got === want, s"got=$got want=$want")
    assert(got((1L, 2L)) === 1L, "exact-50 boundary: one shared window")
    assert(!got.contains((3L, 4L)), "49-run must not pair")
    assert(got((5L, 6L)) === 71L, "identical docs share all 120-49 windows")
  }

  test("q187: repeated-token flood collapses to one shared window") {
    // every 50-window of 'x'^n is the same window: candidate fan-out is
    // quadratic in positions, but the verified answer stays (pair, 1)
    val docs = Seq(
      1L -> Seq.fill(120)("x").mkString(" "),
      2L -> Seq.fill(80)("x").mkString(" "),
      3L -> Seq.fill(60)("y").mkString(" "),
    )
    val got = runSubstring(docs)
    assert(got === Map((1L, 2L) -> 1L), s"got=$got")
  }

  test("q191 decontamination ≡ naive 25-window scan; empty eval set is empty") {
    def bruteContam(rows: Seq[(Long, String)]): Map[(Long, Long), Long] = {
      val wins = rows.map { case (id, t) =>
        id -> t.split(" ", -1).toSeq.sliding(25).filter(_.size == 25).toSet
      }.toMap
      (for {
        (c, wc) <- wins if c % 7 != 0
        (e, we) <- wins if e % 7 == 0
        shared = (wc & we).size.toLong
        if shared > 0
      } yield (c, e) -> shared).toMap
    }
    def runContam(rows: Seq[(Long, String)]) =
      graft.queries.Dedup
        .substringContamination(rows.toDF("doc_id", "text"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val quoted = (1 to 25).map(i => s"qq$i").mkString(" ")
    val q24 = (1 to 24).map(i => s"qz$i").mkString(" ")
    def pad(tag: String, n: Int) = (1 to n).map(i => s"pp${tag}_$i").mkString(" ")
    val docs = Seq(
      7L -> s"$quoted ${pad("e", 10)}",      // eval doc carrying the passage
      14L -> s"$q24 ${pad("f", 10)}",        // eval doc with only a 24-run
      1L -> s"${pad("a", 8)} $quoted",       // contaminated (≥25 verbatim)
      2L -> s"${pad("b", 5)} $q24 x9",       // 24-run only — NOT contaminated
      3L -> pad("c", 40),                    // clean
      21L -> s"$quoted ${pad("g", 3)}")      // eval-eval overlap: not reported
    val got = runContam(docs)
    val want = bruteContam(docs)
    assert(got === want, s"got=$got want=$want")
    assert(got.contains((1L, 7L)) && got.contains((1L, 21L)))
    assert(!got.keys.exists(_._1 == 2L), "24-token run must not contaminate")
    assert(!got.keys.exists(p => p._1 % 7 == 0), "eval docs are never flagged")
    // a corpus whose ids contain no multiples of 7 → empty eval set →
    // empty result, not a crash (q66's convention)
    assert(runContam(Seq(1L -> s"$quoted ${pad("h", 5)}",
      2L -> s"$quoted ${pad("i", 5)}")).isEmpty)
    // real-fixture net
    val fixture = Fan.fan(Tables.documents(spark, sf))
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSeq
    assert(runContam(fixture) === bruteContam(fixture))
  }

  test("q187: plan ≡ naive on the sf0.001 fixture and on randomized blocks") {
    // real-corpus net: the driver-side naive scan replays the full fixture
    val fixture = Fan.fan(Tables.documents(spark, sf))
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSeq
    assert(runSubstring(fixture) === bruteSubstring(fixture))
    // randomized: shared-prefix blocks with point mutations around the
    // 50-token threshold
    val rnd = new scala.util.Random(11)
    val docs = (0 until 4).flatMap { blk =>
      val shared = (1 to 55).map(j => s"c${blk}_$j")
      (0 until 4).map { m =>
        val mutated = shared.map(t =>
          if (rnd.nextInt(25) == 0) s"m_${rnd.nextInt(50)}" else t)
        (blk * 4L + m + 1L) -> (mutated ++ Seq(s"t${blk}_$m")).mkString(" ")
      }
    }
    assert(runSubstring(docs) === bruteSubstring(docs))
  }
}
